"""The benchmark's two workloads.

Each workload drives the engine only through its public entry points
(``IngestPipeline.process_batch``, ``LakeTable.read``/``prune_files``) and
keeps a last-write-wins model of everything it offers, against which every
read and the final table are checked.

Life cycle, driven by ``run.py``: ``prepare()`` generates the inputs once;
``setup(lake_dir)`` builds the fixture in a fresh lake (called several
times; the last lake is the one measured); ``warm_up()`` runs the warm-up
batches; ``run()`` is the timed loop followed by the timed read-backs;
``verify()`` checks the final table.
"""

from __future__ import annotations

import os
import random
import time
from contextlib import nullcontext

import pyarrow as pa

from ducklake_kafka_connect_spark.lake import LakeCatalog
from ducklake_kafka_connect_spark.sources.kafka_source import KAFKA_LIKE_SCHEMA
from ducklake_kafka_connect_spark.streaming.ingest import (
    IngestConfig,
    IngestPipeline,
    TableSpec,
)
from generator import COLUMNS, EventStream, trickle_schedule
from model import Model, digest

TABLE = "events"
CATCHUP_BATCH = 10_000
# one backlog batch per this many seconds of --seconds: five batches at
# 20 s, so that one slow batch moves neither the median nor the drain rate
# much
CATCHUP_NOMINAL_BATCH_S = 4.0
CATCHUP_CONFLICT = 0.1  # BASELINE's 10 %-conflict point
CATCHUP_MALFORMED = 0.01
TRICKLE_FIXTURE = 5_000
TRICKLE_WARMUP_BATCH = 200
TRICKLE_WARMUPS = 6
TRICKLE_RATE = 100.0  # records/s, open loop
TRICKLE_FLUSH_S = 2.0  # the producer's flush period
TRICKLE_UPDATE = 0.1
READBACKS = 32  # timed point lookups after an ingest loop


def now() -> float:
    return time.perf_counter()


def catchup_inputs(seed: int, seconds: int):
    """→ (creating batch, warm-up batches, backlog). The backlog is sized
    from ``seconds``; from its midpoint on, records carry one new field
    (schema evolution)."""
    s = EventStream(seed)
    create = s.batch(CATCHUP_BATCH)
    kw = dict(conflict=CATCHUP_CONFLICT, malformed=CATCHUP_MALFORMED)
    warm = [s.batch(CATCHUP_BATCH, **kw)]
    n = max(2, round(seconds / CATCHUP_NOMINAL_BATCH_S))
    backlog = [s.batch(CATCHUP_BATCH, drift=i >= n // 2, **kw) for i in range(n)]
    return create, warm, backlog


def trickle_inputs(seed: int, seconds: int):
    """→ (fixture batch, warm-up batches, [(due_s, record)])."""
    s = EventStream(seed)
    create = s.batch(TRICKLE_FIXTURE)
    warm = [s.batch(TRICKLE_WARMUP_BATCH, conflict=TRICKLE_UPDATE) for _ in range(TRICKLE_WARMUPS)]
    return create, warm, trickle_schedule(s, TRICKLE_RATE, TRICKLE_FLUSH_S, seconds, TRICKLE_UPDATE)


def data_bytes(table_dir: str) -> int:
    total = 0
    for d, _, files in os.walk(os.path.join(table_dir, "data")):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def arrow_rows(tbl: pa.Table) -> list[tuple]:
    """COLUMNS-ordered tuples; ts as epoch µs, absent columns as None."""
    cols = []
    for c in COLUMNS:
        if c not in tbl.column_names:
            cols.append([None] * tbl.num_rows)
        elif c == "ts":
            cols.append(tbl.column(c).cast(pa.int64()).to_pylist())
        else:
            cols.append(tbl.column(c).to_pylist())
    return list(zip(*cols))


class Workload:
    """Shared set-up of the two process_batch workloads."""

    name = ""
    partition_by: str | None = None

    def __init__(self, spark, seed: int, seconds: int):
        self.spark, self.seed, self.seconds = spark, seed, seconds
        self.rng = random.Random(seed ^ 0x5EED)
        self.tracer = None
        self.batch_ms: list[float] = []
        # per commit: the freshness of each record it made visible
        self.fresh_ms: list[list[float]] = []
        self.query_ms: list[float] = []
        self.lag_ms: list[float] = []  # open loop: how late each batch started
        self.records = self.payload = 0
        self.wall_s = self.idle_s = self.window_s = 0.0
        self.attempted = self.failed = 0
        self.problems: list[str] = []

    # ---- helpers ----

    def span(self, name: str, layer: str, jobs: bool = True):
        return self.tracer.span(name, layer, jobs) if self.tracer else nullcontext()

    def mark(self, kind: str) -> None:
        """Tag the spans that follow with the batch or query they serve."""
        if self.tracer:
            n = len(self.batch_ms if kind == "batch" else self.query_ms)
            self.tracer.unit = f"{kind}-{n}"

    def execute(self, df) -> pa.Table:
        with self.span("spark.execute", "spark"):
            return df.toArrow()

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(what)

    def kafka_frame(self, records):
        return self.spark.createDataFrame(
            [r.kafka_row() for r in records], KAFKA_LIKE_SCHEMA
        )

    def open_lake(self, lake_dir: str) -> None:
        self.cat = LakeCatalog(self.spark, lake_dir, manifest_format="json", backend="posix")
        self.model = Model()

    @property
    def table(self):
        return self.cat.table(TABLE)

    def point_lookup(self, key: int) -> None:
        """A timed PK read, checked against the model."""
        self.mark("query")
        a = now()
        got = arrow_rows(self.execute(self.table.read(where=f"event_id = {key}")))
        self.query_ms.append((now() - a) * 1e3)
        want = [self.model.rows[key]] if key in self.model.rows else []
        self.check(got == want, f"point lookup event_id={key}")

    def dlq_rows(self) -> int:
        dlq = self.cat.table(f"{TABLE}_dlq")
        return dlq.row_count() if dlq.exists() else 0

    def start_window(self) -> None:
        self.bytes0 = data_bytes(self.table.dir)
        self.dlq0 = self.dlq_rows()
        self.window0 = now()

    def end_window(self) -> None:
        self.window_s = now() - self.window0
        self.window_dlq = self.dlq_rows() - self.dlq0

    def readback(self, keys) -> None:
        for k in self.rng.sample(keys, min(READBACKS, len(keys))):
            self.point_lookup(k)

    def verify(self) -> None:
        got = digest(arrow_rows(self.table.read().toArrow()))
        self.check(got == self.model.digest(), f"table digest {got} != model {self.model.digest()}")
        n_dlq = self.dlq_rows()
        self.check(n_dlq == self.model.dlq, f"DLQ rows {n_dlq} != injected {self.model.dlq}")

    def write_amplification(self) -> float:
        return (data_bytes(self.table.dir) - self.bytes0) / self.payload

    def live_files(self) -> int:
        return len(self.table.manifest().all_files())

    def setup(self, lake_dir: str) -> None:
        self.open_lake(lake_dir)
        spec = TableSpec(
            id_columns=["event_id"], partition_by=self.partition_by, auto_create=True
        )
        self.pipe = IngestPipeline(self.cat, IngestConfig(tables={TABLE: spec}))
        self.pipe.process_batch(self.frames[0], 0)
        self.model.apply(self.create)

    def warm_up(self) -> float:
        t = now()
        for i, frame in enumerate(self.frames[1:len(self.warm) + 1]):
            self.pipe.process_batch(frame, i + 1)
        for recs in self.warm:
            self.model.apply(recs)
        self.point_lookup(next(r.key for r in self.warm[-1] if r.row))
        self.query_ms.clear()
        return now() - t

    def finish_loop(self, offered) -> None:
        self.records = len(offered)
        self.payload = sum(len(r.value.encode()) for r in offered)
        self.readback([r.key for r in offered if r.row is not None])


class CatchupMerge(Workload):
    """Closed loop, one caller: a backlog of ~10k-record batches drained
    through process_batch into a day(ts)-partitioned PK table. The backlog
    is sized from --seconds, so every run drains the same records."""

    name = "catchup_merge"
    partition_by = "day(ts)"

    def prepare(self) -> None:
        self.create, self.warm, self.backlog = catchup_inputs(self.seed, self.seconds)
        self.frames = [
            self.kafka_frame(b) for b in [self.create, *self.warm, *self.backlog]
        ]

    def run(self) -> None:
        self.start_window()
        t0 = now()
        epoch = 1 + len(self.warm)
        for recs, frame in zip(self.backlog, self.frames[epoch:]):
            self.mark("batch")
            a = now()
            self.pipe.process_batch(frame, epoch)
            e = now()
            epoch += 1
            self.batch_ms.append((e - a) * 1e3)
            # backlog semantics: every record was due when the loop started
            self.fresh_ms.append([(e - t0) * 1e3] * len(recs))
        self.wall_s = now() - t0
        offered = [r for b in self.backlog for r in b]
        self.model.apply(offered)
        self.attempted += len(self.backlog)
        self.finish_loop(offered)
        self.end_window()


class TrickleUpsert(Workload):
    """Open loop: a producer flushes the records of the last
    TRICKLE_FLUSH_S seconds at TRICKLE_RATE; the sink takes every record
    due so far as one batch into an unpartitioned PK table. While a batch
    takes less than the flush period, each flush is one batch, so the
    batches, and the bytes they write, do not depend on the host's speed."""

    name = "trickle_upsert"

    def prepare(self) -> None:
        self.create, self.warm, self.schedule = trickle_inputs(self.seed, self.seconds)
        self.frames = [self.kafka_frame(b) for b in [self.create, *self.warm]]

    def run(self) -> None:
        self.start_window()
        sched, n, i = self.schedule, len(self.schedule), 0
        epoch = 1 + len(self.warm)
        t0 = now()
        while i < n:
            el = now() - t0
            if sched[i][0] > el:
                time.sleep(sched[i][0] - el)
                self.idle_s += now() - t0 - el
                continue
            j = i
            while j < n and sched[j][0] <= el:
                j += 1
            recs = [r for _, r in sched[i:j]]
            self.mark("batch")
            with self.span("bench.build_frame", "bench", jobs=False):
                frame = self.kafka_frame(recs)
            a = now()
            self.pipe.process_batch(frame, epoch)
            e = now()
            epoch += 1
            self.batch_ms.append((e - a) * 1e3)
            self.fresh_ms.append([(e - t0 - due) * 1e3 for due, _ in sched[i:j]])
            self.lag_ms.append((a - t0 - sched[i][0]) * 1e3)
            self.attempted += 1
            i = j
        self.wall_s = now() - t0
        offered = [r for _, r in sched]
        self.model.apply(offered)
        self.finish_loop(offered)
        self.end_window()


WORKLOADS = {w.name: w for w in (CatchupMerge, TrickleUpsert)}
