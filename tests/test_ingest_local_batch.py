"""process_batch's small-batch path (streaming/ingest.py): a batch of at
most LOCAL_BATCH_MAX_ROWS rows is collected once and decoded, split and
merged on folded local plans.

Pins (a) one Spark job for a warm single-topic upsert batch, with or
without an in-batch duplicate key; (b) the same table and DLQ rows as
the distributed path (forced by a gate of 0), with and without the
Arrow hand-off of a table taking the Arrow merge, across
malformed/empty/null payloads, in-batch duplicate keys, schema
evolution, two topics → two tables, a CHECK constraint plus an SMT, a
decode that does not fold (proto: persisted, decoded once) and a
replayed epoch; (c) a batch one row over the gate keeps the distributed
path and counts ``ingest.localSkip.rows``, and a batch with one record
over the per-row byte cap keeps it too and counts
``ingest.localSkip.bytes``; (d) a batch over the gate into an existing
small PK table is decoded once by ingest and runs no job inside the
writer."""

import json
import uuid

import pytest
from pyspark.sql import functions as F

from ducklake_kafka_connect_spark.lake import LakeCatalog, LakeWriter
from ducklake_kafka_connect_spark.metrics import REGISTRY
from ducklake_kafka_connect_spark.sources import proto_lite
from ducklake_kafka_connect_spark.sources.proto_lite import encode_proto, proto_schema
from ducklake_kafka_connect_spark.streaming import ingest
from ducklake_kafka_connect_spark.streaming.ingest import (
    IngestConfig,
    IngestPipeline,
    TableSpec,
)

KAFKA = "topic string, partition int, offset long, value binary"
PROTO = proto_schema([(1, "pid", "int64"), (2, "amount", "sint64")])


def _json(topic, offset, rec):
    raw = rec if isinstance(rec, (str, type(None))) else json.dumps(rec)
    return (topic, 0, offset, None if raw is None else bytearray(raw.encode()))


def _events(offsets, name="n"):
    return [_json("t1", o, {"id": o, "name": f"{name}{o}"}) for o in offsets]


def _pipeline(cat):
    return IngestPipeline(
        cat,
        IngestConfig(
            topic2table={"t1": "events", "t2": "other", "t3": "pay"},
            tables={
                "events": TableSpec(id_columns=["id"], auto_create=True),
                "other": TableSpec(
                    id_columns=["k"],
                    auto_create=True,
                    check_constraints={"pos": "amount >= 0"},
                    transform=lambda df: df.withColumn("doubled", F.col("amount") * 2),
                ),
                "pay": TableSpec(
                    id_columns=["pid"], auto_create=True, format="proto",
                    proto_schema=PROTO,
                ),
            },
        ),
    )


def _batches():
    pay = [
        ("t3", 0, 100 + i, bytearray(encode_proto(PROTO, {"pid": i, "amount": -i})))
        for i in range(4)
    ] + [("t3", 0, 104, bytearray(b"\xff\xff"))]  # truncated varint → DLQ
    first = _events(range(1, 6)) + [
        _json("t2", 20, {"k": 1, "amount": 5}),
        _json("t2", 21, {"k": 2, "amount": 7}),
    ] + pay
    second = [
        # in-batch duplicate arriving out of offset order: offset decides
        _json("t1", 34, {"id": 1, "name": "late", "extra": 1.5}),  # + new field
        _json("t1", 30, {"id": 1, "name": "early"}),
        _json("t1", 31, '{"id": 9, "na'),  # malformed
        _json("t1", 32, ""),  # empty payload → DLQ
        _json("t1", 33, None),  # null value (tombstone shape)
        _json("t1", 35, {"id": 6, "name": "n6", "extra": 2.5}),
        _json("t2", 40, {"k": 1, "amount": -3}),  # violates pos
        _json("t2", 41, {"k": 3, "amount": 4}),
    ]
    return first, second


def _rows(cat, table, drop):
    df = cat.table(table).read()
    cols = sorted(c for c in df.columns if c not in drop)
    return sorted(
        (tuple(r[c] for c in cols) for r in df.select(*cols).collect()), key=repr
    )


def _snapshot(cat):
    out = {}
    for t in ("events", "other", "pay"):
        for name in (t, f"{t}_dlq"):
            out[name] = _rows(cat, name, {"_inserted_at", "_dlq_at"})
    return out


def test_local_path_matches_distributed_path(spark, tmp_path, monkeypatch):
    decoded_rows = spark.sparkContext.accumulator(0)
    orig = proto_lite.decode_proto_lite

    def counted(*a, **kw):
        out = orig(*a, **kw)

        def count(batches):
            for pdf in batches:
                decoded_rows.add(len(pdf))
                yield pdf

        return out.mapInPandas(count, out.schema)

    monkeypatch.setattr(proto_lite, "decode_proto_lite", counted)
    decoded_arrow = ingest._decoded_arrow
    first, second = _batches()
    got = {}
    # spark: over the gate, each part of a table taking the Arrow merge
    # is evaluated once by ingest; spark_only: that hand-off barred too
    for mode, gate in (
        ("local", ingest.LOCAL_BATCH_MAX_ROWS), ("spark", 0), ("spark_only", 0)
    ):
        monkeypatch.setattr(ingest, "LOCAL_BATCH_MAX_ROWS", gate)
        monkeypatch.setattr(
            ingest,
            "_decoded_arrow",
            (lambda *a: None) if mode == "spark_only" else decoded_arrow,
        )
        cat = LakeCatalog(spark, str(tmp_path / mode))
        pipe = _pipeline(cat)
        local0 = REGISTRY.counters.get("ingest.localBatch", 0)
        evals0 = getattr(REGISTRY.ops.get("ingest.arrowEval"), "count", 0)
        decoded0 = decoded_rows.value
        pipe.process_batch(spark.createDataFrame(first, KAFKA), 0)
        # the proto decode does not fold: it stays persisted, one pass
        assert decoded_rows.value - decoded0 == 5, mode
        pipe.process_batch(spark.createDataFrame(second, KAFKA), 1)
        pipe.process_batch(spark.createDataFrame(second, KAFKA), 1)  # replay
        took_local = REGISTRY.counters.get("ingest.localBatch", 0) - local0
        assert took_local == (3 if mode == "local" else 0), mode
        evals = getattr(REGISTRY.ops.get("ingest.arrowEval"), "count", 0) - evals0
        # the second batch's two parts, in the batch and in its replay
        assert evals == {"local": 4, "spark": 4, "spark_only": 0}[mode], mode
        got[mode] = _snapshot(cat)
    assert got["local"] == got["spark"] == got["spark_only"]
    events = {r[1]: r for r in got["local"]["events"]}  # (extra, id, name)
    assert events[1] == (1.5, 1, "late")
    # the null payload is not corrupt: it lands as an all-null row
    assert set(events) == {None, 1, 2, 3, 4, 5, 6}
    assert len(got["local"]["events_dlq"]) == 2  # malformed + empty
    assert len(got["local"]["other_dlq"]) == 1
    assert len(got["local"]["pay_dlq"]) == 1


def _trickle(offsets):
    return [_json("t1", o, {"id": o, "name": f"n{o}"}) for o in offsets]


def _jobs(sc, monkeypatch, fn):
    """→ (the Spark jobs ``fn`` runs outside LakeWriter.write_many, the
    ones it runs inside)."""
    inside: list = []
    write_many = LakeWriter.write_many

    def tracked(self, *a, **kw):
        outer = sc.getLocalProperty("spark.jobGroup.id")
        group = f"writer-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            return write_many(self, *a, **kw)
        finally:
            inside.extend(sc.statusTracker().getJobIdsForGroup(group))
            sc.setJobGroup(outer, outer)

    monkeypatch.setattr(LakeWriter, "write_many", tracked)
    group = f"ingest-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        monkeypatch.undo()
    return list(sc.statusTracker().getJobIdsForGroup(group)), inside


def test_warm_small_upsert_batch_is_one_spark_job(spark, tmp_path, monkeypatch):
    """With or without an in-batch duplicate key: the offset dedup runs
    on the batch's driver-side rows, so no window job comes on top."""
    cat = LakeCatalog(spark, str(tmp_path))
    pipe = _pipeline(cat)
    pipe.process_batch(spark.createDataFrame(_trickle(range(1000)), KAFKA), 0)
    pipe.process_batch(spark.createDataFrame(_trickle(range(900, 1100)), KAFKA), 1)
    dup = [_json("t1", 1400, {"id": 1300, "name": "again"})]
    for epoch, rows in (
        (2, _trickle(range(1050, 1250))),
        (3, _trickle(range(1250, 1449)) + dup),
    ):
        batch = spark.createDataFrame(rows, KAFKA)
        jobs, writer_jobs = _jobs(
            spark.sparkContext, monkeypatch, lambda: pipe.process_batch(batch, epoch)
        )
        assert len(jobs) + len(writer_jobs) == 1, (epoch, jobs, writer_jobs)
    got = dict(cat.table("events").read().select("id", "name").collect())
    assert len(got) == 1449 and got[1300] == "again" and got[1448] == "n1448"


def test_over_gate_batch_is_decoded_once_for_the_arrow_merge(
    spark, tmp_path, monkeypatch
):
    """A batch over the gate into an existing small PK table: ingest
    evaluates its decode once (the DLQ split, offset dedup and DLQ
    append read that Arrow table), and the writer folds it with no job.
    Six jobs in all: the probe, the topic scan (two), the JSON schema
    inference sample (two) and the decode's one evaluation."""
    cat = LakeCatalog(spark, str(tmp_path))
    pipe = _pipeline(cat)
    pipe.process_batch(spark.createDataFrame(_trickle(range(1000)), KAFKA), 0)
    n = ingest.LOCAL_BATCH_MAX_ROWS + 1
    rows = _trickle(range(2000, 2000 + n)) + [
        _json("t1", 9000, {"id": 2000, "name": "again"}),
        _json("t1", 9001, '{"id": 9, "na'),
    ]
    batch = spark.createDataFrame(rows, KAFKA)
    before = dict(REGISTRY.counters)
    jobs, writer_jobs = _jobs(
        spark.sparkContext, monkeypatch, lambda: pipe.process_batch(batch, 1)
    )
    assert REGISTRY.counters.get("ingest.localSkip.rows", 0) == before.get(
        "ingest.localSkip.rows", 0
    ) + 1
    assert writer_jobs == []
    assert len(jobs) <= 6, jobs
    got = dict(cat.table("events").read().select("id", "name").collect())
    assert len(got) == 1000 + n and got[2000] == "again"
    assert [r["raw_value"] for r in cat.table("events_dlq").read().collect()] == [
        '{"id": 9, "na'
    ]


@pytest.mark.parametrize("over", [0, 1])
def test_gate(spark, tmp_path, monkeypatch, over):
    monkeypatch.setattr(ingest, "LOCAL_BATCH_MAX_ROWS", 3)
    cat = LakeCatalog(spark, str(tmp_path))
    before = dict(REGISTRY.counters)
    _pipeline(cat).process_batch(
        spark.createDataFrame(_trickle(range(3 + over)), KAFKA), 0
    )

    def delta(name):
        return REGISTRY.counters.get(name, 0) - before.get(name, 0)

    assert delta("ingest.localSkip.rows") == over
    assert delta("ingest.localBatch") == 1 - over
    assert cat.table("events").row_count() == 3 + over


def test_large_record_keeps_distributed_path(spark, tmp_path):
    """The probe ships no row over the per-row byte cap: a batch with
    one large record declines on bytes, and every record still lands."""
    cap = ingest.ARROW_MERGE_MAX_BYTES // (ingest.LOCAL_BATCH_MAX_ROWS + 1)
    big = {"id": 99, "name": "x" * (cap + 1)}
    cat = LakeCatalog(spark, str(tmp_path))
    before = dict(REGISTRY.counters)
    _pipeline(cat).process_batch(
        spark.createDataFrame(_trickle(range(3)) + [_json("t1", 99, big)], KAFKA), 0
    )

    def delta(name):
        return REGISTRY.counters.get(name, 0) - before.get(name, 0)

    assert delta("ingest.localSkip.bytes") == 1
    assert delta("ingest.localBatch") == 0
    got = {r["id"]: r["name"] for r in cat.table("events").read().collect()}
    assert got == {0: "n0", 1: "n1", 2: "n2", 99: big["name"]}


def test_map_column_declines(spark):
    """A null map<_, array<_>> comes back from the Arrow rebuild as {}:
    such batches keep the distributed path."""
    before = REGISTRY.counters.get("ingest.localSkip.schema", 0)
    df = spark.createDataFrame([(1, None)], "k int, m map<string,array<string>>")
    assert ingest._local_batch(df) is None
    assert REGISTRY.counters.get("ingest.localSkip.schema", 0) == before + 1
