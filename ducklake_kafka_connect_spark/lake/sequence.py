"""Catalog sequences (DuckDB ``CREATE SEQUENCE`` / ``nextval``).

DuckDB surface (docs/sql/statements/create_sequence): named counters
with INCREMENT / MINVALUE / MAXVALUE / START / CYCLE, consumed by
``nextval('name')`` — one unique value per evaluated row — and
inspected by ``currval('name')``. The reference manages its ducklake
catalog with DuckDB SQL, so surrogate-key sequences are part of the
dialect its users bring.

Storage & concurrency
---------------------
A sequence is an unversioned catalog object: a CAS chain of
``<root>/_sequences/<name>.g<N>.json`` generations, tip = highest N.
Every allocation publishes generation N+1 with create-if-absent (the
same lock-free protocol as the refs chain) and retries on conflict, so
concurrent writers on EITHER backend (posix or object-store CAS) never
hand out overlapping values. Superseded generations keep a short tail
for racing readers and are GC'd opportunistically.

GC frees a generation's NAME: a writer stalled between reading
generation N and creating N+1 can succeed on a freed N+1 after the
chain moved on, landing below the tip with a block the chain already
gave away. Such a create implies a live generation >= N+1+GC_TAIL, and
the live maximum only grows, so every allocation lists again after its
create; when it finds one that far up whose ancestor-id ring
(``ANCESTOR_RING`` ids per generation object, as in the refs chain)
does not prove descent from its own object, it retracts the create and
retries. A create that did become the tip and then saw GC_TAIL
descendants before that LIST is proved by the ring and kept; only
beyond ``ANCESTOR_RING`` descendants is it retracted, which leaves a
gap in the sequence but never a duplicate.

Scale design
------------
``nextval`` is allocated in **blocks, one CAS round trip per
statement** — never per row. A statement that needs k values reserves
``[lo, lo + k·inc)`` with one chain commit; rows are numbered inside
the block executor-side with pure arithmetic:

    value(row) = lo + inc · (cum_offset[spark_partition_id] + row_idx)

where ``cum_offset`` comes from one small per-partition count job
(collected as O(partitions) longs) and ``row_idx`` is the row's index
within its partition — both derivable without any extra shuffle. At
1000 executors the sequence object sees ONE write per statement, the
same contention profile DuckDB's own transactional sequence catalog
has, while value assignment stays fully parallel. Like DuckDB under
parallel execution, WHICH row receives WHICH value is unspecified;
uniqueness and range are guaranteed.
"""

from __future__ import annotations

import json
import os
import uuid

SEQ_DIR = "_sequences"
#: superseded generations kept for racing readers
GC_TAIL = 8
#: ancestor ids each generation object carries (see the module docstring)
ANCESTOR_RING = 64
_DEFAULTS = {"increment": 1, "start": None, "min": None, "max": None,
             "cycle": False}


class SequenceExhausted(Exception):
    """nextval past MAXVALUE (or below MINVALUE) without CYCLE."""


def _dir(root: str) -> str:
    return os.path.join(root, SEQ_DIR)


def _gen_path(root: str, name: str, gen: int) -> str:
    return os.path.join(_dir(root), f"{name}.g{gen:08d}.json")


def _gens(fs, root: str, name: str) -> list[int]:
    """The sequence's stored generations, ascending."""
    try:
        names = fs.list_names(_dir(root))
    except FileNotFoundError:
        return []
    pre, suf = f"{name}.g", ".json"
    return sorted(
        int(n[len(pre):-len(suf)])
        for n in names
        if n.startswith(pre) and n.endswith(suf)
        and n[len(pre):-len(suf)].isdigit()
    )


def _scan(fs, root: str, name: str) -> "tuple[int, dict] | None":
    """(tip generation, state) or None if the sequence does not exist.
    A tip that GC removed between the LIST and the read means the LIST
    was stale: list again."""
    while True:
        gens = _gens(fs, root, name)
        if not gens:
            return None
        payload = fs.try_read_bytes(_gen_path(root, name, gens[-1]))
        if payload is not None:
            return gens[-1], json.loads(payload)


def _payload(state: dict, prev: "dict | None") -> "tuple[str, str]":
    """(object id, JSON) of a generation holding ``state`` that follows
    ``prev``, the tip generation's object it was computed from."""
    my_id = uuid.uuid4().hex
    ancestors = []
    if prev is not None and prev.get("id"):
        ancestors = [prev["id"], *prev.get("ancestors", [])][:ANCESTOR_RING]
    return my_id, json.dumps({**state, "id": my_id, "ancestors": ancestors})


def _orphaned(fs, root: str, name: str, gen: int, gen_id: str) -> bool:
    """True when the object ``gen_id`` just created at ``gen`` may sit
    below the tip on a GC-freed name: a generation at least GC_TAIL
    above it exists whose ancestor ring does not prove descent from it
    (see the module docstring). A tip GC'd between the LIST and the
    read means the LIST was stale: list again."""
    while True:
        gens = _gens(fs, root, name)
        top = gens[-1] if gens else gen
        if top < gen + GC_TAIL:
            return False
        raw = fs.try_read_bytes(_gen_path(root, name, top))
        if raw is not None:
            anc = json.loads(raw).get("ancestors") or []
            d = top - gen
            return not (d <= len(anc) and anc[d - 1] == gen_id)


def list_sequences(fs, root: str) -> list[str]:
    try:
        names = fs.list_names(_dir(root))
    except FileNotFoundError:
        return []
    out = set()
    for n in names:
        if n.endswith(".json") and ".g" in n:
            base, _, gen = n[:-5].rpartition(".g")
            if base and gen.isdigit():
                out.add(base)
    return sorted(out)


def sequence_state(fs, root: str, name: str) -> dict:
    found = _scan(fs, root, name)
    if found is None:
        raise ValueError(f"sequence {name!r} does not exist")
    return found[1]


def create_sequence(
    fs,
    root: str,
    name: str,
    *,
    increment: int = 1,
    start: "int | None" = None,
    minvalue: "int | None" = None,
    maxvalue: "int | None" = None,
    cycle: bool = False,
    replace: bool = False,
    if_not_exists: bool = False,
) -> None:
    """DuckDB defaults: ascending sequences run 1..MAXVALUE starting at
    MINVALUE; descending (increment < 0) run MINVALUE..-1 starting at
    MAXVALUE."""
    if increment == 0:
        raise ValueError("CREATE SEQUENCE: INCREMENT must be non-zero")
    lo = minvalue if minvalue is not None else (1 if increment > 0 else None)
    hi = maxvalue if maxvalue is not None else (-1 if increment < 0 else None)
    st = start if start is not None else (lo if increment > 0 else hi)
    if lo is not None and st < lo or hi is not None and st > hi:
        raise ValueError(
            f"CREATE SEQUENCE {name}: START {st} outside "
            f"[{lo if lo is not None else '-inf'}, "
            f"{hi if hi is not None else 'inf'}]"
        )
    existing = _scan(fs, root, name)
    if existing is not None:
        if if_not_exists:
            return
        if not replace:
            raise ValueError(
                f"sequence {name!r} already exists (use OR REPLACE)"
            )
    state = {
        "increment": increment,
        "min": lo,
        "max": hi,
        "cycle": cycle,
        "next": st,  # the value the NEXT nextval returns
    }
    fs.ensure_dir(_dir(root))
    gen = existing[0] + 1 if existing is not None else 0
    _, payload = _payload(state, existing[1] if existing is not None else None)
    while not fs.put_if_absent(_gen_path(root, name, gen), payload):
        gen += 1
    _gc(fs, root, name, gen)


def drop_sequence(fs, root: str, name: str, if_exists: bool = False) -> None:
    found = _scan(fs, root, name)
    if found is None:
        if if_exists:
            return
        raise ValueError(f"sequence {name!r} does not exist")
    try:
        names = fs.list_names(_dir(root))
    except FileNotFoundError:
        return
    pre = f"{name}.g"
    for n in names:
        if n.startswith(pre) and n.endswith(".json"):
            fs.delete(os.path.join(_dir(root), n), missing_ok=True)


def allocate(fs, root: str, name: str, count: int) -> int:
    """Reserve ``count`` consecutive values; return the first (``lo``).
    The caller derives value i as ``lo + i * increment``. ONE chain
    commit per call regardless of count (retried on CAS conflict);
    raises :class:`SequenceExhausted` at the bound unless CYCLE."""
    if count <= 0:
        raise ValueError("allocate: count must be positive")
    while True:
        found = _scan(fs, root, name)
        if found is None:
            raise ValueError(f"sequence {name!r} does not exist")
        gen, state = found
        inc, lo_b, hi_b = state["increment"], state["min"], state["max"]
        first = state["next"]
        last = first + (count - 1) * inc
        if inc > 0 and hi_b is not None and last > hi_b:
            if not state["cycle"]:
                raise SequenceExhausted(
                    f"nextval('{name}'): exceeds MAXVALUE {hi_b} "
                    f"(need {count} value(s) from {first}; no CYCLE)"
                )
            first = lo_b if lo_b is not None else 1
            last = first + (count - 1) * inc
            if hi_b is not None and last > hi_b:
                raise SequenceExhausted(
                    f"nextval('{name}'): block of {count} larger than "
                    f"the sequence's full cycle"
                )
        elif inc < 0 and lo_b is not None and last < lo_b:
            if not state["cycle"]:
                raise SequenceExhausted(
                    f"nextval('{name}'): exceeds MINVALUE {lo_b} "
                    f"(need {count} value(s) from {first}; no CYCLE)"
                )
            first = hi_b if hi_b is not None else -1
            last = first + (count - 1) * inc
            if lo_b is not None and last < lo_b:
                raise SequenceExhausted(
                    f"nextval('{name}'): block of {count} larger than "
                    f"the sequence's full cycle"
                )
        # _payload replaces the copied id and ancestors
        my_id, payload = _payload({**state, "next": last + inc}, state)
        target = gen + 1
        if not fs.put_if_absent(_gen_path(root, name, target), payload):
            continue  # lost the CAS — another writer advanced; replan
        if _orphaned(fs, root, name, target, my_id):
            # created a GC-freed name below the tip: retract, replan
            fs.delete(_gen_path(root, name, target), missing_ok=True)
            continue
        _gc(fs, root, name, target)
        return first


def _gc(fs, root: str, name: str, tip: int) -> None:
    for g in _gens(fs, root, name):
        if g >= tip - GC_TAIL:
            break
        fs.delete(_gen_path(root, name, g), missing_ok=True)


def partition_counts(df) -> list[int]:
    """Per-partition row counts, indexed by the SAME partition id
    :func:`attach_sequence` derives (``monotonically_increasing_id() >>
    33``), so the two jobs can never disagree about numbering even if
    ``spark_partition_id`` and the mid-encoded index diverge under
    coalesced/empty partitions. One lightweight job; map-side combine
    reduces it to one row per partition before the collect."""
    from pyspark.sql import functions as F

    rows = (
        df.select(
            (F.monotonically_increasing_id() / F.lit(1 << 33))
            .cast("bigint")
            .alias("__pid")
        )
        .groupBy("__pid")
        .count()
        .collect()
    )
    if not rows:
        return []
    top = max(int(r["__pid"]) for r in rows)
    counts = [0] * (top + 1)
    for r in rows:
        counts[int(r["__pid"])] = int(r["count"])
    return counts


def attach_sequence(df, column: str, lo: int, increment: int, counts):
    """Add ``column`` holding unique sequence values to every row of
    ``df`` WITHOUT a shuffle: ``counts`` is the per-partition row-count
    list (index = spark_partition_id, from one lightweight count job);
    each row's value is pure arithmetic over its partition's cumulative
    offset and its index within the partition.

    The within-partition index is recovered from
    ``monotonically_increasing_id()``'s structure (partition id in the
    high 31 bits, a 0-based counter in the low 33 — a documented
    invariant of the function), so no window, no sort, no data
    movement; the narrow projection pipelines into whatever read or
    write surrounds it."""
    from pyspark.sql import functions as F

    offsets = [0] * (len(counts) + 1)
    for i, c in enumerate(counts):
        offsets[i + 1] = offsets[i] + c
    # spark_partition_id is NOT necessarily mid >> 33 when partitions
    # are empty/coalesced, so derive BOTH pid and row index from the
    # same mid — they are consistent with each other by construction.
    mid = F.monotonically_increasing_id()
    pid = (mid / F.lit(1 << 33)).cast("bigint")
    idx = mid % F.lit(1 << 33)
    offmap = F.array(*[F.lit(o) for o in offsets[:-1]])
    val = F.lit(lo) + F.lit(increment) * (
        F.element_at(offmap, (pid + 1).cast("int")) + idx
    )
    return df.withColumn(column, val.cast("long"))
