"""Driver-hashed e2e parity queries for the connector's format matrix.

Each query drives the REAL ingest pipeline (streaming/ingest.py) end to
end over a Kafka-shaped frame derived from the events table, then reads
the landed lake table back — so the driver's DuckDB oracle hashes the
whole dataflow, not a unit test:

- ``avro_ingest_roundtrip``      — A4: Confluent-framed Avro via the
  schema-registry decode path, unknown-schema frames to the DLQ
  (`AvroIntegrationTest.java:101-163` analogue).
- ``arrow_ipc_ingest_roundtrip`` — A5/A6: multi-row Arrow IPC payloads
  encoded and decoded through the converter pair
  (`ArrowIpcIntegrationTest.java` analogue).
- ``mixed_format_ingest``        — A7: JSON and IPC payloads
  interleaved in ONE topic-partition, per-row sniff dispatch
  (`DucklakeSinkTask.java:630-638` analogue).
- ``schema_drift_promotion_ingest`` — C1/C4/B1: one batch whose JSON
  payloads disagree on a field's numeric type (long vs double) plus a
  field present in only half the records — inference unifies up the
  promotion ladder and null-fills the missing field
  (`SchemaMismatchIntegrationTest.java:92-179` analogue; the
  int-vs-string HARD conflict is DLQ routing by design, pinned in
  the json-decode tests).
- ``smt_timestamp_convert_ingest`` — B13: a per-table SMT transform
  (epoch-ms → formatted string, the `README.md:204-212`
  TimestampConverter example) applied between decode and write.
- ``schema_evolution_widen_ingest`` — C9/C10: a second batch widens an
  int column past int32 AND introduces a new column — reconcile runs
  the integer ladder and ADD COLUMN with null backfill
  (`DucklakeTableManager.java:236-364` analogue).
- ``topic_routing_fanout_ingest`` — A2: four topics fanned out by the
  topic2table map — two consolidated onto one table, one explicit, two
  identity-fallback (`TopicToTableValidator.java:99-154` analogue).

All frames are deterministic functions of the events table, so every
oracle is plain SQL arithmetic over `events`.
"""

from __future__ import annotations

import json
import os
import struct
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..lake import LakeCatalog
from ..streaming.ingest import IngestConfig, IngestPipeline, TableSpec
from .queries import _fresh_catalog, _scratch_dir, _t, register
from ..lake.relation_cache import local_rows_df

AVRO_BAD_MOD = 97  # every 97th event framed under an unregistered id

EV_AVRO_SCHEMA = json.dumps(
    {
        "type": "record",
        "name": "Ev",
        "fields": [
            {"name": "key_id", "type": "long"},
            {"name": "user_id", "type": "long"},
            {"name": "event_type", "type": "string"},
            {"name": "value_cents", "type": "long"},
        ],
    }
)


def _event_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value", "ts"
    )


@register(
    "avro_ingest_roundtrip",
    f"""
    WITH src AS (
      SELECT event_id, user_id, event_type,
             CAST(floor(value * 100) AS BIGINT) AS value_cents
      FROM events WHERE event_id % 10 = 0
    )
    SELECT CAST(count(CASE WHEN event_id % {AVRO_BAD_MOD} <> 0 THEN 1 END)
                AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN event_id % {AVRO_BAD_MOD} <> 0
                         THEN value_cents END) AS BIGINT) AS sum_cents,
           CAST(count(DISTINCT CASE WHEN event_id % {AVRO_BAD_MOD} <> 0
                                    THEN event_type END) AS BIGINT) AS n_types,
           CAST(count(CASE WHEN event_id % {AVRO_BAD_MOD} = 0 THEN 1 END)
                AS BIGINT) AS n_dlq
    FROM src
    """,
    "A4 e2e: events Avro-encoded under Confluent framing (schema id 1), "
    "every 97th under an unregistered id — through the registry decode "
    "path into the lake, bad frames to the DLQ; landed aggregates + DLQ "
    "count vs the oracle's plain arithmetic",
)
def avro_ingest_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.schema_registry import DictSchemaRegistry

    # every 10th event: the per-record Python codec boundary is the
    # operator under test, not a fixture-synthesis throughput bench
    src = _event_source(spark, sf_dir).filter(F.col("event_id") % 10 == 0)

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..sources.avro_lite import encode_avro

        for pdf in batches:
            payloads = []
            for eid, uid, et, val in zip(
                pdf["event_id"], pdf["user_id"], pdf["event_type"], pdf["value"]
            ):
                body = encode_avro(
                    EV_AVRO_SCHEMA,
                    {
                        "key_id": int(eid),
                        "user_id": int(uid),
                        "event_type": str(et),
                        "value_cents": int(float(val) * 100 // 1),
                    },
                )
                sid = 99 if int(eid) % AVRO_BAD_MOD == 0 else 1
                payloads.append(b"\x00" + struct.pack(">I", sid) + body)
            yield pd.DataFrame(
                {
                    "topic": "av",
                    "partition": (pdf["user_id"] % 4).astype("int32"),
                    "offset": pdf["event_id"],
                    "value": payloads,
                }
            )

    frame = src.mapInPandas(
        encode, "topic string, partition int, offset long, value binary"
    )
    cat = _fresh_catalog(spark, "avro")
    cfg = IngestConfig(
        topic2table={"av": "events_avro"},
        tables={"events_avro": TableSpec(auto_create=True, format="avro_registry")},
    )
    IngestPipeline(cat, cfg, registry=DictSchemaRegistry({1: EV_AVRO_SCHEMA})).process_batch(
        frame
    )
    landed = cat.table("events_avro").read()
    agg = landed.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("value_cents").alias("sum_cents"),
        F.countDistinct("event_type").alias("n_types"),
    )
    dlq = (
        cat.table("events_avro_dlq")
        .read()
        .agg(F.count(F.lit(1)).alias("n_dlq"))
    )
    return agg.crossJoin(F.broadcast(dlq))


@register(
    "arrow_ipc_ingest_roundtrip",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
           CAST(sum(user_id) AS BIGINT) AS sum_uid,
           CAST(count(DISTINCT event_type) AS BIGINT) AS n_types
    FROM events
    """,
    "A5/A6 e2e: events packed into multi-row Arrow IPC payloads (one "
    "stream per bucket), decoded by the mapInArrow converter into the "
    "lake; landed aggregates vs direct arithmetic",
)
def arrow_ipc_ingest_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pyarrow as pa

    src = _event_source(spark, sf_dir).withColumn(
        "bucket", (F.col("event_id") % 16).cast("int")
    )

    def pack(key, pdf):
        from ..sources.arrow_ipc import encode_ipc

        tbl = pa.table(
            {
                "key_id": pa.array(pdf["event_id"], pa.int64()),
                "user_id": pa.array(pdf["user_id"], pa.int64()),
                "event_type": pa.array(pdf["event_type"], pa.string()),
                "value_cents": pa.array(
                    (pdf["value"] * 100).astype("int64"), pa.int64()
                ),
            }
        )
        return pd.DataFrame(
            {
                "topic": ["ipc"],
                "partition": [int(key[0]) % 4],
                "offset": [int(key[0])],
                "value": [encode_ipc(tbl)],
            }
        )

    frame = src.groupBy("bucket").applyInPandas(
        pack, "topic string, partition int, offset long, value binary"
    )
    cat = _fresh_catalog(spark, "ipc")
    cfg = IngestConfig(
        topic2table={"ipc": "events_ipc"},
        tables={"events_ipc": TableSpec(auto_create=True, format="arrow")},
    )
    IngestPipeline(cat, cfg).process_batch(frame)
    return (
        cat.table("events_ipc")
        .read()
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("value_cents").alias("sum_cents"),
            F.sum("user_id").alias("sum_uid"),
            F.countDistinct("event_type").alias("n_types"),
        )
    )


@register(
    "mixed_format_ingest",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN (event_id // 20) % 2 = 1
                         THEN CAST(floor(value * 100) AS BIGINT) END)
                AS BIGINT) AS sum_cents_json,
           CAST(sum(CASE WHEN (event_id // 20) % 2 = 0
                         THEN CAST(floor(value * 100) AS BIGINT) END)
                AS BIGINT) AS sum_cents_ipc
    FROM events WHERE event_id % 20 = 0
    """,
    "A7 e2e: one topic-partition interleaving JSON text payloads (odd "
    "events) with single-row Arrow IPC payloads (even events); the "
    "per-row continuation-marker sniff dispatches each to its decoder "
    "and both halves land in one table",
)
def mixed_format_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    # every 5th event: per-row IPC stream synthesis is fixture cost
    src = _event_source(spark, sf_dir).filter(F.col("event_id") % 20 == 0)

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pyarrow as pa

        from ..sources.arrow_ipc import encode_ipc

        for pdf in batches:
            payloads = []
            for eid, uid, et, val in zip(
                pdf["event_id"], pdf["user_id"], pdf["event_type"], pdf["value"]
            ):
                cents = int(float(val) * 100 // 1)
                if (int(eid) // 20) % 2 == 1:
                    payloads.append(
                        json.dumps(
                            {
                                "key_id": int(eid),
                                "user_id": int(uid),
                                "event_type": str(et),
                                "value_cents": cents,
                                "src": "json",
                            }
                        ).encode()
                    )
                else:
                    payloads.append(
                        encode_ipc(
                            pa.table(
                                {
                                    "key_id": pa.array([int(eid)], pa.int64()),
                                    "user_id": pa.array([int(uid)], pa.int64()),
                                    "event_type": pa.array([str(et)], pa.string()),
                                    "value_cents": pa.array([cents], pa.int64()),
                                    "src": pa.array(["ipc"], pa.string()),
                                }
                            )
                        )
                    )
            yield pd.DataFrame(
                {
                    "topic": "mx",
                    "partition": (pdf["user_id"] % 4).astype("int32"),
                    "offset": pdf["event_id"],
                    "value": payloads,
                }
            )

    frame = src.mapInPandas(
        encode, "topic string, partition int, offset long, value binary"
    )
    cat = _fresh_catalog(spark, "mixed")
    cfg = IngestConfig(
        topic2table={"mx": "events_mixed"},
        tables={"events_mixed": TableSpec(auto_create=True, format="mixed")},
    )
    IngestPipeline(cat, cfg).process_batch(frame)
    return (
        cat.table("events_mixed")
        .read()
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(
                F.when(F.col("src") == "json", F.col("value_cents"))
            ).alias("sum_cents_json"),
            F.sum(
                F.when(F.col("src") == "ipc", F.col("value_cents"))
            ).alias("sum_cents_ipc"),
        )
    )


@register(
    "schema_drift_promotion_ingest",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           ROUND(sum(CASE WHEN event_id % 2 = 0
                          THEN CAST(floor(value * 100) AS DOUBLE)
                          ELSE ROUND(value, 2) END), 2) AS sum_v,
           CAST(count(CASE WHEN event_id % 2 = 1 THEN 1 END) AS BIGINT)
             AS n_with_note
    FROM events
    """,
    "C1/C4/B1 e2e: ONE batch whose JSON payloads carry v as a LONG for "
    "half the records and as a DOUBLE for the other half (plus a note "
    "field only that half has) — sampled inference unifies v up the "
    "numeric promotion ladder to DOUBLE and null-fills the missing "
    "field; landed sums match the oracle's CASE arithmetic "
    "(SchemaMismatchIntegrationTest.java:92-179 analogue; the "
    "int-vs-string HARD conflict is pinned separately as DLQ routing)",
)
def schema_drift_promotion_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = _event_source(spark, sf_dir)
    cents = F.floor(F.col("value") * 100).cast("long")
    payload = F.when(
        F.col("event_id") % 2 == 0,
        F.to_json(
            F.struct(F.col("event_id").alias("key_id"), cents.alias("v"))
        ),
    ).otherwise(
        F.to_json(
            F.struct(
                F.col("event_id").alias("key_id"),
                F.round(F.col("value"), 2).alias("v"),
                F.lit("drifted").alias("note"),
            )
        )
    )
    frame = src.select(
        F.lit("dr").alias("topic"),
        (F.col("user_id") % 4).cast("int").alias("partition"),
        F.col("event_id").alias("offset"),
        payload.cast("binary").alias("value"),
    )
    cat = _fresh_catalog(spark, "drift")
    cfg = IngestConfig(
        topic2table={"dr": "events_drift"},
        tables={"events_drift": TableSpec(auto_create=True, format="json")},
    )
    IngestPipeline(cat, cfg).process_batch(frame)
    return (
        cat.table("events_drift")
        .read()
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum(F.col("v").cast("double")), 2).alias("sum_v"),
            F.count("note").alias("n_with_note"),
        )
    )


@register(
    "smt_timestamp_convert_ingest",
    """
    WITH src AS (
      SELECT event_type,
             strftime(make_timestamp(
               CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) * 1000000),
               '%Y-%m-%d %H:%M:%S') AS ts_iso
      FROM events
    )
    SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           min(ts_iso) AS first_ts, max(ts_iso) AS last_ts
    FROM src GROUP BY event_type
    """,
    "B13 e2e: the TimestampConverter SMT example (README.md:204-212) as "
    "a per-table transform hook — epoch-ms fields rewritten to "
    "formatted strings between decode and write; the landed table's "
    "string bounds must match the oracle's strftime arithmetic",
)
def smt_timestamp_convert_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = _event_source(spark, sf_dir)
    ts_ms = (F.unix_timestamp("ts") * 1000).cast("long")
    frame = src.select(
        F.lit("sm").alias("topic"),
        (F.col("user_id") % 4).cast("int").alias("partition"),
        F.col("event_id").alias("offset"),
        F.to_json(
            F.struct(
                F.col("event_id").alias("key_id"),
                F.col("event_type"),
                ts_ms.alias("ts_ms"),
            )
        )
        .cast("binary")
        .alias("value"),
    )

    def smt(df: DataFrame) -> DataFrame:
        # TimestampConverter: epoch-ms long → formatted string, field
        # replaced (session timezone is pinned UTC by build_session)
        return df.withColumn(
            "ts_iso",
            F.from_unixtime(
                (F.col("ts_ms") / 1000).cast("long"), "yyyy-MM-dd HH:mm:ss"
            ),
        ).drop("ts_ms")

    cat = _fresh_catalog(spark, "smt")
    cfg = IngestConfig(
        topic2table={"sm": "events_smt"},
        tables={
            "events_smt": TableSpec(auto_create=True, format="json", transform=smt)
        },
    )
    IngestPipeline(cat, cfg).process_batch(frame)
    return (
        cat.table("events_smt")
        .read()
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("ts_iso").alias("first_ts"),
            F.max("ts_iso").alias("last_ts"),
        )
    )


@register(
    "schema_evolution_widen_ingest",
    """
    WITH h1 AS (
      SELECT event_id, CAST(event_id % 1000 AS BIGINT) AS a
      FROM events WHERE event_id % 2 = 0
    ),
    h2 AS (
      SELECT event_id, CAST(event_id AS BIGINT) * 10000000 AS a
      FROM events WHERE event_id % 2 = 1
    )
    SELECT CAST((SELECT count(*) FROM h1) + (SELECT count(*) FROM h2) AS BIGINT)
             AS n_rows,
           CAST((SELECT sum(a) FROM h1) + (SELECT sum(a) FROM h2) AS BIGINT)
             AS sum_a,
           CAST((SELECT count(*) FROM h2) AS BIGINT) AS n_with_b
    """,
    "C9/C10 e2e: batch 1 creates the table with a small-int column; "
    "batch 2 (same table, later process_batch) carries values past "
    "int32 AND a brand-new column — the reconcile path widens the "
    "column up the integer ladder and ADD-COLUMNs the new field, "
    "null-backfilling batch-1 rows; landed sums match plain arithmetic "
    "(DucklakeTableManager.java:236-364 analogue)",
)
def schema_evolution_widen_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = _event_source(spark, sf_dir)
    b1 = src.filter(F.col("event_id") % 2 == 0).select(
        F.lit("ev").alias("topic"),
        F.lit(0).cast("int").alias("partition"),
        F.col("event_id").alias("offset"),
        F.to_json(
            F.struct(
                F.col("event_id").alias("key_id"),
                (F.col("event_id") % 1000).cast("int").alias("a"),
            )
        )
        .cast("binary")
        .alias("value"),
    )
    b2 = src.filter(F.col("event_id") % 2 == 1).select(
        F.lit("ev").alias("topic"),
        F.lit(0).cast("int").alias("partition"),
        F.col("event_id").alias("offset"),
        F.to_json(
            F.struct(
                F.col("event_id").alias("key_id"),
                (F.col("event_id") * 10_000_000).alias("a"),
                F.lit("added").alias("b"),
            )
        )
        .cast("binary")
        .alias("value"),
    )
    cat = _fresh_catalog(spark, "evolve")
    cfg = IngestConfig(
        topic2table={"ev": "events_evolved"},
        tables={"events_evolved": TableSpec(auto_create=True, format="json")},
    )
    pipe = IngestPipeline(cat, cfg)
    pipe.process_batch(b1)  # creates with a: int-ish
    pipe.process_batch(b2)  # widens a to long, adds b
    return (
        cat.table("events_evolved")
        .read()
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("a").cast("long")).alias("sum_a"),
            F.count("b").alias("n_with_b"),
        )
    )


@register(
    "topic_routing_fanout_ingest",
    """
    WITH routed AS (
      SELECT CASE WHEN event_type IN ('click', 'view') THEN 'web_events'
                  WHEN event_type = 'purchase' THEN 'orders_landed'
                  ELSE 'ops_' || event_type END AS tbl
      FROM events
    )
    SELECT tbl, CAST(count(*) AS BIGINT) AS n_rows
    FROM routed GROUP BY tbl
    """,
    "A2 e2e: four topics fanned out by the topic2table map — two mapped "
    "onto ONE table (group-commit consolidation), one explicit, one "
    "falling back to identity routing; per-table landed counts vs the "
    "oracle's CASE (TopicToTableValidator.java:99-154 analogue)",
)
def topic_routing_fanout_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = _event_source(spark, sf_dir)
    topic = (
        F.when(F.col("event_type").isin("click", "view"), F.concat(F.lit("t_"), F.col("event_type")))
        .when(F.col("event_type") == "purchase", F.lit("purchases"))
        .otherwise(F.concat(F.lit("ops_"), F.col("event_type")))
    )
    frame = src.select(
        topic.alias("topic"),
        (F.col("user_id") % 4).cast("int").alias("partition"),
        F.col("event_id").alias("offset"),
        F.to_json(
            F.struct(
                F.col("event_id").alias("key_id"),
                F.col("event_type"),
            )
        )
        .cast("binary")
        .alias("value"),
    )
    cat = _fresh_catalog(spark, "route")
    spec = TableSpec(auto_create=True, format="json")
    cfg = IngestConfig(
        # t_click and t_view consolidate into web_events; purchases maps
        # explicitly; ops_signup / ops_error hit the identity fallback
        topic2table={
            "t_click": "web_events",
            "t_view": "web_events",
            "purchases": "orders_landed",
        },
        tables={
            "web_events": spec,
            "orders_landed": spec,
            "ops_signup": spec,
            "ops_error": spec,
        },
    )
    pipe = IngestPipeline(cat, cfg)
    pipe.process_batch(frame)
    parts = []
    for tbl in ["web_events", "orders_landed", "ops_signup", "ops_error"]:
        parts.append(
            cat.table(tbl)
            .read()
            .agg(F.count(F.lit(1)).alias("n_rows"))
            .select(F.lit(tbl).alias("tbl"), "n_rows")
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# ---------------------------------------------------------------------------
# Protobuf roundtrip (source-format family completion: JSON/Avro/Arrow/proto)
# ---------------------------------------------------------------------------

PROTO_BAD_MOD = 89  # every 89th payload truncated mid-varint


@register(
    "proto_ingest_roundtrip",
    f"""
    WITH src AS (
      SELECT event_id, user_id,
             CAST(floor(value * 100) AS BIGINT) AS value_cents
      FROM events WHERE event_id % 10 = 3
    )
    SELECT CAST(count(CASE WHEN event_id % {PROTO_BAD_MOD} <> 0 THEN 1 END)
                AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN event_id % {PROTO_BAD_MOD} <> 0
                         THEN -value_cents END) AS BIGINT) AS sum_neg_cents,
           CAST(sum(CASE WHEN event_id % {PROTO_BAD_MOD} <> 0
                         THEN user_id END) AS BIGINT) AS sum_uid,
           CAST(count(CASE WHEN event_id % {PROTO_BAD_MOD} = 0 THEN 1 END)
                AS BIGINT) AS n_dlq
    FROM src
    """,
    "Source-format extension e2e: events protobuf-wire-encoded (zigzag "
    "sint64 negatives exercise the varint edge), every 89th payload "
    "truncated — through format='proto' decode into the lake, bad "
    "frames to the DLQ; landed aggregates vs plain arithmetic",
)
def proto_ingest_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.proto_lite import encode_proto, proto_schema

    schema = proto_schema(
        [
            (1, "key_id", "int64"),
            (2, "user_id", "int64"),
            (3, "neg_cents", "sint64"),
        ]
    )
    src = _event_source(spark, sf_dir).filter(F.col("event_id") % 10 == 3)

    def encode(batches):
        for pdf in batches:
            payloads = []
            for eid, uid, val in zip(
                pdf["event_id"], pdf["user_id"], pdf["value"]
            ):
                body = encode_proto(
                    schema,
                    {
                        "key_id": int(eid),
                        "user_id": int(uid),
                        "neg_cents": -int(float(val) * 100 // 1),
                    },
                )
                if int(eid) % PROTO_BAD_MOD == 0:
                    body = b"\xff\xff"  # truncated varint → decode error
                payloads.append(body)
            yield pd.DataFrame(
                {
                    "topic": "pb",
                    "partition": (pdf["user_id"] % 4).astype("int32"),
                    "offset": pdf["event_id"],
                    "value": payloads,
                }
            )

    frame = src.mapInPandas(
        encode, "topic string, partition int, offset long, value binary"
    )
    cat = _fresh_catalog(spark, "proto")
    cfg = IngestConfig(
        topic2table={"pb": "events_proto"},
        tables={
            "events_proto": TableSpec(
                auto_create=True, format="proto", proto_schema=schema
            )
        },
    )
    IngestPipeline(cat, cfg).process_batch(frame)
    landed = cat.table("events_proto").read()
    agg = landed.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("neg_cents").alias("sum_neg_cents"),
        F.sum("user_id").alias("sum_uid"),
    )
    dlq = (
        cat.table("events_proto_dlq")
        .read()
        .agg(F.count(F.lit(1)).alias("n_dlq"))
    )
    return agg.crossJoin(F.broadcast(dlq))


# ---------------------------------------------------------------------------
# Lake-ops roundtrip: rename → write → shallow clone → add_files
# ---------------------------------------------------------------------------


@register(
    "lake_ops_roundtrip",
    """
    WITH base AS (
      SELECT event_id, event_type,
             CAST(floor(value * 100) AS BIGINT) AS amount_cents
      FROM events WHERE event_id % 10 = 1
    ),
    extra AS (
      SELECT event_id, event_type,
             CAST(floor(value * 100) AS BIGINT) AS amount_cents
      FROM events WHERE event_id % 10 = 2
    ),
    imported AS (
      SELECT event_id, event_type,
             CAST(floor(value * 100) AS BIGINT) AS amount_cents
      FROM events WHERE event_id % 10 = 3
    ),
    clone_side AS (SELECT * FROM base),
    final_side AS (
      SELECT * FROM base UNION ALL
      SELECT * FROM extra UNION ALL
      SELECT * FROM imported
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(amount_cents) AS BIGINT) AS sum_cents,
           CAST((SELECT count(*) FROM clone_side) AS BIGINT) AS n_clone
    FROM final_side GROUP BY event_type ORDER BY event_type
    """,
    "Lake-ops e2e: build a lake table (value_cents), metadata-only "
    "RENAME to amount_cents, append under the new name, shallow-CLONE "
    "the pre-append snapshot (isolation proof: clone count stays at "
    "the base slice), then add_files-import an external parquet slice "
    "— final per-type aggregates + the clone's row count vs plain "
    "arithmetic over the same event slices",
)
def lake_ops_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every round-9 lake operator on one driver-hashed path: rename's
    read/write boundary translation (the appended batch uses the NEW
    logical name while files keep the physical one), clone's zero-copy
    snapshot isolation (taken at the pre-append version and counted
    AFTER the append + import mutate the source), and add_files'
    metadata-only import with stats harvesting. All content derives
    from the events table, so the oracle is pure slice arithmetic."""
    from ..lake import LakeTable, LakeWriter

    src = _event_source(spark, sf_dir)

    def slice_df(mod: int, col: str):
        return src.filter(F.col("event_id") % 10 == mod).select(
            "event_id",
            "event_type",
            F.floor(F.col("value") * 100).cast("long").alias(col),
        )

    root = _scratch_dir("lakeops")
    t = LakeTable(spark, root, "ops")
    w = LakeWriter(t)  # append-only, unpartitioned: add_files-eligible
    w.write(slice_df(1, "value_cents"))
    v_base = t.current_version()
    t.rename_column("value_cents", "amount_cents")
    LakeWriter(t).write(slice_df(2, "amount_cents"))
    clone = t.clone(root, "ops_snapshot", version=v_base)
    ext_dir = os.path.join(root, "external")
    # add_files validates against PHYSICAL file columns — after a
    # rename that is the original name (files never change names)
    slice_df(3, "value_cents").coalesce(1).write.parquet(ext_dir)
    t.add_files(
        [
            os.path.join(ext_dir, f)
            for f in sorted(os.listdir(ext_dir))
            if f.endswith(".parquet")
        ]
    )
    final = t.read()
    n_clone = clone.read().agg(
        F.count(F.lit(1)).alias("n_clone")
    )
    return (
        final.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("amount_cents").cast("long").alias("sum_cents"),
        )
        .crossJoin(F.broadcast(n_clone))
        .select("event_type", "n_rows", "sum_cents", "n_clone")
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# CSV roundtrip (converter family completion: JSON/Avro/proto/Arrow/CSV)
# ---------------------------------------------------------------------------

CSV_BAD_MOD = 83  # every 83rd payload gets an unconvertible numeric field


@register(
    "csv_ingest_roundtrip",
    f"""
    WITH src AS (
      SELECT event_id, user_id,
             CAST(floor(value * 100) AS BIGINT) AS cents
      FROM events WHERE event_id % 10 = 7
    )
    SELECT CAST(count(CASE WHEN event_id % {CSV_BAD_MOD} <> 0 THEN 1 END)
                AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN event_id % {CSV_BAD_MOD} <> 0
                         THEN cents END) AS BIGINT) AS sum_cents,
           CAST(sum(CASE WHEN event_id % {CSV_BAD_MOD} <> 0
                         THEN user_id END) AS BIGINT) AS sum_uid,
           CAST(count(CASE WHEN event_id % {CSV_BAD_MOD} = 0 THEN 1 END)
                AS BIGINT) AS n_dlq
    FROM src
    """,
    "Converter-family completion e2e: events CSV-encoded (quoted field "
    "with an embedded comma exercises the quoting path), every 83rd "
    "line carrying an unconvertible numeric — through format='csv' "
    "(JVM from_csv, zero Python) into the lake, bad lines to the DLQ",
)
def csv_ingest_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = _event_source(spark, sf_dir).filter(F.col("event_id") % 10 == 7)
    line = F.concat(
        F.col("event_id").cast("string"),
        F.lit(","),
        F.col("user_id").cast("string"),
        F.lit(',"t,'),  # quoted field with an embedded comma
        F.col("event_type"),
        F.lit('",'),
        F.when(
            F.col("event_id") % CSV_BAD_MOD == 0, F.lit("NOT_A_NUMBER")
        ).otherwise(F.floor(F.col("value") * 100).cast("string")),
    )
    frame = src.select(
        F.lit("cv").alias("topic"),
        (F.col("user_id") % 4).cast("int").alias("partition"),
        F.col("event_id").alias("offset"),
        F.encode(line, "UTF-8").alias("value"),
    )
    cat = _fresh_catalog(spark, "csv")
    cfg = IngestConfig(
        topic2table={"cv": "events_csv"},
        tables={
            "events_csv": TableSpec(
                auto_create=True,
                format="csv",
                csv_schema="key_id long, uid long, tag string, cents long",
            )
        },
    )
    IngestPipeline(cat, cfg).process_batch(frame)
    landed = cat.table("events_csv").read()
    agg = landed.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("cents").alias("sum_cents"),
        F.sum("uid").alias("sum_uid"),
    )
    dlq = (
        cat.table("events_csv_dlq")
        .read()
        .agg(F.count(F.lit(1)).alias("n_dlq"))
    )
    return agg.crossJoin(F.broadcast(dlq))


# ---------------------------------------------------------------------------
# Object-store (CAS) backend: the commit protocol in the correctness gate
# ---------------------------------------------------------------------------


@register(
    "cas_backend_lake_ops",
    """
    WITH base AS (
      SELECT event_id, event_type,
             CAST(floor(value * 100) AS BIGINT) AS cents
      FROM events WHERE event_id % 9 = 1
    ),
    upd AS (
      SELECT event_id, event_type,
             CAST(floor(value * 100) AS BIGINT) + 777 AS cents
      FROM events WHERE event_id % 18 = 1
    ),
    newk AS (
      SELECT event_id, event_type,
             CAST(floor(value * 100) AS BIGINT) AS cents
      FROM events WHERE event_id % 9 = 2
    ),
    final AS (
      SELECT * FROM base WHERE event_id % 18 <> 1
      UNION ALL SELECT * FROM upd
      UNION ALL SELECT * FROM newk
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(cents) AS BIGINT) AS sum_cents,
           CAST((SELECT count(*) FROM base) AS BIGINT) AS tt_rows,
           CAST((SELECT count(*) FROM base) AS BIGINT) AS tt_rows_postvac
    FROM final GROUP BY event_type ORDER BY event_type
    """,
    "Object-store commit protocol e2e on the CAS backend (no flock, no "
    "rename): PK table created, MERGE overwrites half the base keys and "
    "inserts new ones, the pre-merge snapshot is tagged, time travel "
    "resolves through LIST-derived versions before AND after a vacuum "
    "(tag = retention root) — final per-type aggregates plus both "
    "snapshot counts vs last-write-wins slice arithmetic",
)
def cas_backend_lake_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-10 storage backend driven end-to-end where the driver's
    oracle can hash it: every manifest byte of this query moves through
    ``CasObjectStoreBackend`` — commits are create-if-absent version
    segments (S3 conditional-PUT semantics), ``current_version`` derives
    from a LIST (the LATEST hint is scribbled over mid-run to prove no
    reader trusts it), and the tag keeps the pre-merge snapshot readable
    across a vacuum. Reference shape: S3 DATA_PATH + transactional
    catalog (connect/DucklakeConnectionFactory.java:36-95)."""
    from ..lake import LakeTable, LakeWriter

    src = _event_source(spark, sf_dir)

    def cents_slice(pred, bump: int = 0):
        return src.filter(pred).select(
            "event_id",
            "event_type",
            (F.floor(F.col("value") * 100).cast("long") + bump).alias("cents"),
        )

    eid = F.col("event_id")
    root = _scratch_dir("cas")
    t = LakeTable(spark, root, "ops", backend="cas")
    w = LakeWriter(t, pk=["event_id"])
    w.write(cents_slice(eid % 9 == 1))
    v0 = t.current_version()
    t.tag("pre_merge", v0)
    w.write(
        cents_slice(eid % 18 == 1, bump=777).unionByName(
            cents_slice(eid % 9 == 2)
        )
    )
    # a crashed writer's stale LATEST hint must not fool any reader —
    # the CAS backend derives the tip from a LIST of the manifest prefix
    t.fs.put(os.path.join(t.meta_dir, "LATEST"), "0")
    tt = t.read(tag="pre_merge").agg(
        F.count(F.lit(1)).alias("tt_rows")
    )
    from ..lake.maintenance import vacuum as _vacuum

    _vacuum(t, keep_versions=1)
    tt_post = t.read(tag="pre_merge").agg(
        F.count(F.lit(1)).alias("tt_rows_postvac")
    )
    return (
        t.read()
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("cents").cast("long").alias("sum_cents"),
        )
        .crossJoin(F.broadcast(tt))
        .crossJoin(F.broadcast(tt_post))
        .select(
            "event_type", "n_rows", "sum_cents", "tt_rows", "tt_rows_postvac"
        )
        .orderBy("event_type")
    )


@register(
    "lake_datasource_scan",
    """
    WITH src AS (
      SELECT event_id, event_type,
             CAST(floor(value * 100) AS BIGINT) AS cents
      FROM events WHERE event_id % 7 = 2
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(cents) AS BIGINT) AS sum_cents
    FROM src WHERE event_id >= 100
    GROUP BY event_type ORDER BY event_type
    """,
    "The `ducklake` Python DataSource (PySpark 4 DataSource API) in the "
    "correctness gate: a lake table read back through "
    "spark.read.format('ducklake') with a pushed range filter (mapped "
    "onto manifest-stat file pruning via pushFilters), aggregated — "
    "proving the format-registered read path returns exactly the "
    "engine's table contents",
)
def lake_datasource_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Executors read the immutable parquet via pyarrow and yield Arrow
    RecordBatches; the pushed `event_id >= 100` reaches `prune_files`
    before any file opens (sources/lake_datasource.py)."""
    from ..lake import LakeTable, LakeWriter
    from ..sources.lake_datasource import register_lake_datasource

    register_lake_datasource(spark)
    src = _event_source(spark, sf_dir)
    root = _scratch_dir("ds")
    t = LakeTable(spark, root, "ev")
    LakeWriter(t).append(
        src.filter(F.col("event_id") % 7 == 2).select(
            "event_id",
            "event_type",
            F.floor(F.col("value") * 100).cast("long").alias("cents"),
        )
    )
    df = (
        spark.read.format("ducklake")
        .option("path", root)
        .option("table", "ev")
        .load()
        .filter(F.col("event_id") >= 100)
    )
    return (
        df.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("cents").cast("long").alias("sum_cents"),
        )
        .orderBy("event_type")
    )


@register(
    "lake_datasource_sink_roundtrip",
    """
    WITH src AS (
      SELECT event_id, event_type,
             CAST(floor(value * 100) AS BIGINT) AS cents
      FROM events WHERE event_id % 13 = 5
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(cents) AS BIGINT) AS sum_cents
    FROM src GROUP BY event_type ORDER BY event_type
    """,
    "The `ducklake` DataSource SINK in the correctness gate: "
    "df.write.format('ducklake') stages parquet executor-side (Arrow "
    "batches, footer stats harvested in-task) and the driver folds the "
    "staged files into a manifest version under the table lock — two "
    "appends + one read-back through the ENGINE's table API prove the "
    "format-written files are first-class lake citizens",
)
def lake_datasource_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sources/lake_datasource.py write path: auto-create + two sink
    appends (each one manifest version), read back via LakeTable.read —
    stats harvested by the sink must serve the engine's pruning."""
    from ..lake import LakeTable
    from ..sources.lake_datasource import register_lake_datasource

    register_lake_datasource(spark)
    src = _event_source(spark, sf_dir)
    root = _scratch_dir("sink")
    half = src.filter(F.col("event_id") % 13 == 5).select(
        "event_id",
        "event_type",
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    )
    for part in (half.filter(F.col("event_id") % 2 == 0),
                 half.filter(F.col("event_id") % 2 == 1)):
        (
            part.write.format("ducklake")
            .option("path", root)
            .option("table", "ev")
            .mode("append")
            .save()
        )
    t = LakeTable(spark, root, "ev")
    return (
        t.read()
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("cents").cast("long").alias("sum_cents"),
        )
        .orderBy("event_type")
    )


@register(
    "lake_datasource_pruned_scan",
    """
    WITH src AS (
      SELECT event_id, event_type,
             (event_id * 10) % 997 AS metric7
      FROM events WHERE event_id % 5 = 1
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(metric7) AS BIGINT) AS sum_m7
    FROM src WHERE event_id >= 200
    GROUP BY event_type ORDER BY event_type
    """,
    "Column-pruned `ducklake` DataSource scan: a WIDE (51-column) lake "
    "table read back through spark.read.format('ducklake') with "
    ".option('columns', ...) — the stand-in for the column-pruning hook "
    "PySpark's Python DataSource API lacks — so the executor-side "
    "parquet read touches only the 3 selected columns' pages (48 filler "
    "columns never cross Arrow), THROUGH a column rename (logical name "
    "resolves to the physical one per version), with the pushed range "
    "filter still pruning files via manifest stats",
)
def lake_datasource_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VERDICT r11 'What's wrong #2' closure: without `columns`, a wide
    scan through the Python DataSource reads the full width via Arrow
    (Spark has no projection-pushdown hook for Python sources); with
    it, `_read_file_slices` projects the parquet page reads to exactly
    the listed columns (sources/lake_datasource.py)."""
    from ..lake import LakeTable, LakeWriter
    from ..sources.lake_datasource import register_lake_datasource

    register_lake_datasource(spark)
    src = _event_source(spark, sf_dir)
    root = _scratch_dir("wide")
    t = LakeTable(spark, root, "wide")
    LakeWriter(t).append(
        src.filter(F.col("event_id") % 5 == 1).select(
            "event_id",
            "event_type",
            F.floor(F.col("value") * 100).cast("long").alias("cents"),
            *[
                ((F.col("event_id") * (i + 3)) % 997)
                .cast("long")
                .alias(f"c{i:02d}")
                for i in range(48)
            ],
        )
    )
    t.rename_column("c07", "metric7")  # columns option resolves logical names
    df = (
        spark.read.format("ducklake")
        .option("path", root)
        .option("table", "wide")
        .option("columns", "event_id,event_type,metric7")
        .load()
        .filter(F.col("event_id") >= 200)
    )
    return (
        df.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("metric7").cast("long").alias("sum_m7"),
        )
        .orderBy("event_type")
    )


@register(
    "lake_datasource_partitioned_sink",
    """
    WITH src AS (
      SELECT event_id, CAST(floor(value * 100) AS BIGINT) AS cents,
             CAST(month(CAST(ts AS TIMESTAMP)) AS BIGINT) AS m
      FROM events WHERE event_id % 6 = 3
    )
    SELECT m, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(cents) AS BIGINT) AS sum_cents
    FROM src GROUP BY m ORDER BY m
    """,
    "Partitioned table written through the `ducklake` SINK (r12: the "
    "partition refusal is gone): each task splits its Arrow batches by "
    "month(ts) executor-side — no shuffle, Spark's own dynamic-partition "
    "write shape — staging hive dirs canonically interchangeable with "
    "engine-written ones; read back through the engine with per-month "
    "aggregation proving layout, derived data columns, and stats all "
    "landed.",
)
def lake_datasource_partitioned_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..lake import LakeCatalog, LakeTable
    from ..sources.lake_datasource import register_lake_datasource

    register_lake_datasource(spark)
    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        F.col("ts"),
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    ).filter(F.col("event_id") % 6 == 3)
    root = _scratch_dir("psink")
    t = LakeTable(spark, root, "pev")
    t.create(ev.schema, pk=[], partition_by="month(ts)")
    (
        ev.write.format("ducklake")
        .option("path", root)
        .option("table", "pev")
        .mode("append")
        .save()
    )
    cat = LakeCatalog(spark, root)
    return cat.sql(
        "SELECT CAST(month(ts) AS BIGINT) AS m, "
        "CAST(count(*) AS BIGINT) AS n_rows, "
        "CAST(sum(cents) AS BIGINT) AS sum_cents "
        "FROM pev GROUP BY month(ts) ORDER BY m"
    )


@register(
    "medallion_incremental_pipeline",
    """
    WITH src AS (
      SELECT event_id, event_type,
             CAST(floor(value * 100) AS BIGINT) * 10 AS cents10
      FROM events WHERE event_id % 5 = 1
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(cents10) AS BIGINT) AS sum_cents10
    FROM src GROUP BY event_type ORDER BY event_type
    """,
    "Bronze→silver medallion flow through the `ducklake` format alone: "
    "readStream follows bronze's manifest versions, a per-batch "
    "transform runs, writeStream lands silver with epoch idempotence; a "
    "second bronze commit flows through a checkpoint RESTART (only the "
    "new version's files re-process) — silver must equal the oracle's "
    "one-shot arithmetic over the full slice",
)
def medallion_incremental_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composition test of the DataSource halves: source offsets =
    manifest versions, sink exactly-once = txns epoch markers, and the
    checkpoint makes the second run INCREMENTAL (the first bronze
    version is never re-read — a duplicate would break the oracle)."""
    from ..lake import LakeTable, LakeWriter
    from ..sources.lake_datasource import register_lake_datasource

    register_lake_datasource(spark)
    src = _event_source(spark, sf_dir)
    root = _scratch_dir("med")
    cp = os.path.join(root, "_checkpoint")
    slice_ = src.filter(F.col("event_id") % 5 == 1).select(
        "event_id",
        "event_type",
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    )
    bronze = LakeTable(spark, root, "bronze")
    w = LakeWriter(bronze)

    def run_once():
        q = (
            spark.readStream.format("ducklake")
            .option("path", root)
            .option("table", "bronze")
            .option("startingVersion", "0")
            .load()
            .select(
                "event_id",
                "event_type",
                (F.col("cents") * 10).alias("cents10"),
            )
            .writeStream.format("ducklake")
            .option("path", root)
            .option("table", "silver")
            .option("checkpointLocation", cp)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        q.stop()

    w.append(slice_.filter(F.col("event_id") % 2 == 1))
    run_once()
    w.append(slice_.filter(F.col("event_id") % 2 == 0))
    run_once()  # checkpoint restart: only the new version re-processes
    silver = LakeTable(spark, root, "silver")
    return (
        silver.read()
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("cents10").cast("long").alias("sum_cents10"),
        )
        .orderBy("event_type")
    )


@register(
    "refs_chain_tag_ops",
    """
    WITH base AS (
      SELECT event_id, event_type,
             CAST(floor(value * 100) AS BIGINT) AS cents
      FROM events WHERE event_id % 11 = 3
    ),
    upd AS (
      SELECT event_id, event_type,
             CAST(floor(value * 100) AS BIGINT) + 111 AS cents
      FROM events WHERE event_id % 22 = 3
    ),
    final AS (
      SELECT * FROM base WHERE event_id % 22 <> 3
      UNION ALL SELECT * FROM upd
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(cents) AS BIGINT) AS sum_cents,
           CAST((SELECT count(*) FROM base) AS BIGINT) AS pinned_rows,
           CAST(3 AS BIGINT) AS n_tags,
           CAST(4 AS BIGINT) AS refs_gen
    FROM final GROUP BY event_type ORDER BY event_type
    """,
    "The round-11 lock-free refs CAS chain driven e2e on the cas "
    "backend: a legacy refs.json migrates as generation 0, tag edits "
    "advance the chain by exactly one generation each (re-tag, second "
    "tag, delete), the chain tip survives a vacuum, and the pinned tag "
    "keeps its snapshot readable post-vacuum — aggregates plus the "
    "chain-generation and tag-count invariants vs slice arithmetic",
)
def refs_chain_tag_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every refs byte here moves through the CAS chain protocol
    (table.py `_refs_commit`): create-if-absent ``refs.g{N}.json``
    generations, LIST-derived tip, legacy single-object layout read as
    generation 0 and superseded by the first chain commit. The final
    generation number is DETERMINISTIC (= mutating edits), so the
    oracle can assert the chain stayed linear — a lost/replayed CAS
    would double-advance it."""
    from ..lake import LakeTable, LakeWriter

    src = _event_source(spark, sf_dir)

    def cents_slice(pred, bump: int = 0):
        return src.filter(pred).select(
            "event_id",
            "event_type",
            (F.floor(F.col("value") * 100).cast("long") + bump).alias("cents"),
        )

    eid = F.col("event_id")
    root = _scratch_dir("refs")
    t = LakeTable(spark, root, "ops", backend="cas")
    w = LakeWriter(t, pk=["event_id"])
    w.write(cents_slice(eid % 11 == 3))
    v0 = t.current_version()
    # a pre-r11 deployment's refs layout: single refs.json object — the
    # chain must read it as generation 0 and supersede it
    import json as _json

    t.fs.put(t._refs_path, _json.dumps({"tags": {"legacy": v0}}))
    t.tag("pin", v0)                       # g1: {legacy, pin@v0}
    w.write(cents_slice(eid % 22 == 3, bump=111))
    t.tag("pin", v0)                       # no-op (same version): NO new gen
    t.tag("tip", t.current_version())      # g2
    t.tag("tip", t.current_version())      # no-op again
    t.delete_tag("legacy")                 # g3
    t.tag("extra", v0)                     # g4
    assert not t.fs.exists(t._refs_path), "legacy refs object must be superseded"
    from ..lake.maintenance import vacuum as _vacuum

    _vacuum(t, keep_versions=1)
    pinned = t.read(tag="pin").agg(F.count(F.lit(1)).alias("pinned_rows"))
    n_tags = len(t.tags())  # {pin, tip, extra}
    refs_gen = t._refs_tip()[0]
    return (
        t.read()
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("cents").cast("long").alias("sum_cents"),
        )
        .crossJoin(F.broadcast(pinned))
        .withColumn("n_tags", F.lit(n_tags).cast("long"))
        .withColumn("refs_gen", F.lit(refs_gen).cast("long"))
        .select(
            "event_type", "n_rows", "sum_cents", "pinned_rows", "n_tags", "refs_gen"
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Connector-properties entrypoint in the correctness gate
# ---------------------------------------------------------------------------


@register(
    "connector_properties_ingest",
    """
    WITH src AS (
      SELECT event_id, user_id, event_type,
             CAST(floor(value * 100) AS BIGINT) AS cents
      FROM events WHERE event_id % 10 = 4
    ),
    upd AS (
      SELECT event_id, user_id, event_type,
             CAST(floor(value * 100) AS BIGINT) + 500 AS cents
      FROM events WHERE event_id % 20 = 4
    ),
    final AS (
      SELECT * FROM src WHERE event_id % 20 <> 4
      UNION ALL SELECT * FROM upd
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(cents) AS BIGINT) AS sum_cents,
           CAST(sum(user_id) AS BIGINT) AS sum_uid
    FROM final GROUP BY event_type ORDER BY event_type
    """,
    "The drop-in migration path driven e2e: the reference's exact "
    "connector properties dict (data path, topic2table.map, per-table "
    "id-columns/partition-by/auto-create, max_retry_count) builds the "
    "deployment via connector_config.build_from_properties; two "
    "Kafka-shaped JSON batches flow through the resulting pipeline "
    "(second batch MERGE-overwrites half the keys) — final per-type "
    "aggregates vs last-write-wins slice arithmetic",
)
def connector_properties_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A reference user's literal switching story, oracle-hashed: paste
    the DucklakeSinkConfig properties, process micro-batches, read the
    lake back (connect/DucklakeSinkConfig.java key set; upsert routing
    from ducklake.table.<t>.id-columns)."""
    from ..connector_config import build_from_properties

    root = _scratch_dir("props")
    props = {
        "name": "ducklake-sink",
        "topics": "orders",
        "value.converter": "org.apache.kafka.connect.json.JsonConverter",
        "ducklake.data_path": root,
        "topic2table.map": "orders:orders_tbl",
        "ducklake.table.orders_tbl.id-columns": "event_id",
        "ducklake.table.orders_tbl.auto-create": "true",
        "ducklake.max_retry_count": "5",
        "data.inlining.row.limit": "off",
    }
    d = build_from_properties(spark, props)
    pipe = d.pipeline()

    def frame(pred, bump: int):
        src = _event_source(spark, sf_dir).filter(pred)
        payload = F.to_json(
            F.struct(
                F.col("event_id"),
                F.col("user_id"),
                F.col("event_type"),
                (F.floor(F.col("value") * 100).cast("long") + bump).alias(
                    "cents"
                ),
            )
        )
        return src.select(
            F.lit("orders").alias("topic"),
            (F.col("user_id") % 4).cast("int").alias("partition"),
            F.col("event_id").alias("offset"),
            F.encode(payload, "UTF-8").alias("value"),
        )

    eid = F.col("event_id")
    pipe.process_batch(frame(eid % 10 == 4, 0))
    pipe.process_batch(frame(eid % 20 == 4, 500))  # MERGE overwrite half
    landed = d.catalog.table("orders_tbl").read()
    return (
        landed.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("cents").cast("long").alias("sum_cents"),
            F.sum("user_id").cast("long").alias("sum_uid"),
        )
        .orderBy("event_type")
    )


@register(
    "lake_sink_upsert",
    """
    SELECT event_id,
           CASE WHEN event_id % 10 >= 5 THEN 'updated' ELSE event_type END AS event_type,
           CASE WHEN event_id % 10 >= 5 THEN CAST(floor(value * 100) AS BIGINT) + 1000
                ELSE CAST(floor(value * 100) AS BIGINT) END AS cents
    FROM events
    """,
    "Streaming-upsert sink mode (sources/lake_datasource.py mergeKeys): "
    "each sink write commits as ONE merge-on-read MERGE — delta data "
    "files + a per-task PK tombstone (lake/mor.py) — so writeStream "
    "upserts cost O(batch) with no foreachBatch. Here: base write + "
    "50%-overlap mutated write through df.write.format('ducklake'), "
    "read back through the visibility anti-join; must equal the "
    "LakeWriter/SQL MERGE result shape.",
)
def lake_sink_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..lake import LakeTable
    from ..lake.mor import mor_state
    from ..sources.lake_datasource import register_lake_datasource

    register_lake_datasource(spark)
    src = _event_source(spark, sf_dir).select(
        "event_id",
        "event_type",
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    )
    root = _scratch_dir("sink")
    base = src.filter(F.col("event_id") % 10 < 8)
    batch = (
        src.filter(F.col("event_id") % 10 >= 5)
        .withColumn("cents", F.col("cents") + F.lit(1000))
        .withColumn("event_type", F.lit("updated"))
    )
    for part in (base, batch):
        (
            part.write.format("ducklake")
            .option("path", root)
            .option("table", "ev_up")
            .option("mergeKeys", "event_id")
            .mode("append")
            .save()
        )
    t = LakeTable(spark, root, "ev_up")
    m = t.manifest()
    if m.props["last_op"] != "SINK_MERGE(MOR)":
        raise AssertionError(f"unexpected last_op {m.props['last_op']}")
    if not mor_state(m)[1]:
        raise AssertionError("sink upsert left no tombstone state")
    return t.read().select("event_id", "event_type", "cents")


@register(
    "lake_sink_upsert_evolving",
    """
    SELECT event_id,
           CASE WHEN event_id % 10 < 2 THEN 'late'
                WHEN event_id % 10 >= 5 THEN 'updated'
                ELSE event_type END AS event_type,
           CASE WHEN event_id % 10 < 2
                THEN CAST(floor(value * 100) AS BIGINT) + 7
                WHEN event_id % 10 >= 5
                THEN CAST(floor(value * 100) AS BIGINT) + 1000
                ELSE CAST(floor(value * 100) AS BIGINT) END AS cents,
           CASE WHEN event_id % 10 >= 5 THEN event_id * 3 END AS score
    FROM events
    """,
    "mergeKeys sink + SCHEMA DRIFT (r13): a second sink write carries a "
    "NEW column (score) — the writer evolves the table with one "
    "metadata-only ADD COLUMN at plan time, older files null-fill; a "
    "third write replays the NARROWER schema and its missing column "
    "null-fills executor-side. Each write is still one merge-on-read "
    "epoch commit (asserted: SINK_MERGE(MOR), standing tombstones).",
)
def lake_sink_upsert_evolving(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..lake import LakeTable
    from ..lake.mor import mor_state
    from ..sources.lake_datasource import register_lake_datasource

    register_lake_datasource(spark)
    src = _event_source(spark, sf_dir).select(
        "event_id",
        "event_type",
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    )
    root = _scratch_dir("sink")

    def sink(d):
        (
            d.write.format("ducklake").option("path", root)
            .option("table", "ev_evo").option("mergeKeys", "event_id")
            .mode("append").save()
        )

    sink(src.filter(F.col("event_id") % 10 < 8))
    sink(  # wider: new 'score' column arrives
        src.filter(F.col("event_id") % 10 >= 5)
        .withColumn("cents", F.col("cents") + F.lit(1000))
        .withColumn("event_type", F.lit("updated"))
        .withColumn("score", F.col("event_id") * F.lit(3))
    )
    sink(  # narrower again: an old-schema producer replays
        src.filter(F.col("event_id") % 10 < 2)
        .withColumn("cents", F.col("cents") + F.lit(7))
        .withColumn("event_type", F.lit("late"))
    )
    t = LakeTable(spark, root, "ev_evo")
    m = t.manifest()
    if "score" not in m.schema.fieldNames():
        raise AssertionError("sink did not evolve the table schema")
    if m.props["last_op"] != "SINK_MERGE(MOR)":
        raise AssertionError(f"unexpected last_op {m.props['last_op']}")
    if not mor_state(m)[1]:
        raise AssertionError("sink upsert left no tombstone state")
    return t.read().select("event_id", "event_type", "cents", "score")


@register(
    "sql_copy_into_import",
    """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents
    FROM events
    WHERE event_id % 3 = 0
    GROUP BY event_type
    """,
    "COPY INTO (Delta-parity idempotent bulk ingestion, r13): source "
    "parquet files land through the writer with the loaded-file set "
    "committed ATOMICALLY with the rows, so the statement is rerun-safe "
    "— asserted in-query: the second COPY INTO loads 0 files and "
    "commits no version. Ingestion differs from add_files (zero-copy "
    "import): rows conform/evolve and route through merge-vs-insert.",
)
def sql_copy_into_import(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _event_source(spark, sf_dir).filter(F.col("event_id") % 3 == 0).select(
        "event_id",
        "event_type",
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    )
    root = _scratch_dir("copy")
    src = os.path.join(root, "src")
    ev.coalesce(2).write.parquet(src)
    cat = LakeCatalog(spark, os.path.join(root, "lake"))
    cat.sql("CREATE TABLE ev_copied (event_id BIGINT, event_type STRING, cents BIGINT)")
    cat.sql(f"COPY INTO ev_copied FROM '{src}'")
    v = cat.table("ev_copied").current_version()
    rerun = cat.sql(f"COPY INTO ev_copied FROM '{src}'").collect()[0]
    if not rerun["detail"].startswith("0 new"):
        raise AssertionError(f"COPY INTO rerun not idempotent: {rerun['detail']}")
    if cat.table("ev_copied").current_version() != v:
        raise AssertionError("COPY INTO rerun committed a version")
    return (
        cat.table("ev_copied").read()
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("cents").cast("long").alias("cents"),
        )
    )


@register(
    "sql_delete_in_subquery",
    """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents
    FROM events
    WHERE user_id % 37 <> 0
    GROUP BY event_type
    """,
    "DELETE ... WHERE user_id IN (SELECT ...) — the right-to-be-"
    "forgotten shape (r13): a subquery predicate can't run in the "
    "file-level predicate engine, so the statement compiles onto MERGE "
    "(matched keys from the full SQL engine, delete through the "
    "pk-keyed merge — O(matched) under merge-on-read). The erasure "
    "list is a second lake table, exactly how a GDPR queue looks.",
)
def sql_delete_in_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..lake import LakeWriter

    src = _event_source(spark, sf_dir).select(
        "event_id", "user_id", "event_type",
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    )
    cat = _fresh_catalog(spark, "gdpr")
    LakeWriter(cat.table("ev_gdpr"), pk=["event_id"]).write(src)
    LakeWriter(cat.table("erasure_requests")).append(
        src.filter(F.col("user_id") % 37 == 0).select("user_id").distinct()
    )
    cat.sql(
        "DELETE FROM ev_gdpr WHERE user_id IN "
        "(SELECT user_id FROM erasure_requests)"
    )
    return (
        cat.table("ev_gdpr").read()
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("cents").cast("long").alias("cents"),
        )
    )


@register(
    "sql_optimize_where_scoped",
    """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents
    FROM events
    GROUP BY event_type
    """,
    "Partition-scoped compaction (r13): OPTIMIZE t WHERE p rewrites "
    "only the files whose footer stats admit the predicate — 'compact "
    "yesterday's hot partition', not the table. Asserted in-query via "
    "the table_files('t') metadata TVF (zero-scan manifest inventory): "
    "the scoped partition's file count drops, every out-of-scope file "
    "survives byte-identical, and the visible content is unchanged.",
)
def sql_optimize_where_scoped(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..lake import LakeWriter

    src = _event_source(spark, sf_dir).select(
        "event_id",
        "event_type",
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
        (F.col("event_id") % 4).cast("int").alias("grp"),
    )
    cat = _fresh_catalog(spark, "opt")
    w = LakeWriter(cat.table("ev_hot"), pk=["event_id"], partition_by="grp")
    # three appends → several files per partition
    for r in (0, 1, 2):
        w.append(src.filter(F.col("event_id") % 3 == r))
    inv = {
        row["partition"]: (row["n"], row["files"])
        for row in cat.sql(
            "SELECT partition, count(*) AS n, array_sort(collect_list(file)) AS files "
            "FROM table_files('ev_hot') GROUP BY partition"
        ).collect()
    }
    cat.sql("OPTIMIZE ev_hot WHERE grp = 2")
    inv2 = {
        row["partition"]: (row["n"], row["files"])
        for row in cat.sql(
            "SELECT partition, count(*) AS n, array_sort(collect_list(file)) AS files "
            "FROM table_files('ev_hot') GROUP BY partition"
        ).collect()
    }
    hot = next(k for k in inv if k.endswith("=2"))
    if not inv2[hot][0] < inv[hot][0]:
        raise AssertionError(f"hot partition not compacted: {inv[hot][0]} -> {inv2[hot][0]}")
    for k in inv:
        if k != hot and inv2[k] != inv[k]:
            raise AssertionError(f"out-of-scope partition {k} changed")
    return (
        cat.table("ev_hot").read()
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("cents").cast("long").alias("cents"),
        )
    )


@register(
    "lake_replication_mirror",
    """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents
    FROM events
    WHERE event_id % 2 = 0 AND event_id % 11 <> 0
    GROUP BY event_type
    """,
    "Incremental cross-lake replication (r13, lake/replicate.py): a "
    "table's WHOLE history — two versions, a predicate delete, a tag — "
    "mirrors to a second root, then ONE more commit syncs "
    "incrementally (asserted: the second run copies exactly one "
    "version, the steady-state third run copies nothing). The result "
    "reads from the MIRROR, including time travel to the tagged "
    "version.",
)
def lake_replication_mirror(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..lake import LakeTable, LakeWriter
    from ..lake.replicate import replicate

    src = _event_source(spark, sf_dir).filter(F.col("event_id") % 2 == 0).select(
        "event_id",
        "event_type",
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    )
    root = _scratch_dir("repl")
    primary, mirror = os.path.join(root, "primary"), os.path.join(root, "mirror")
    cat = LakeCatalog(spark, primary)
    t = cat.table("ev_repl")
    w = LakeWriter(t, pk=["event_id"])
    w.write(src)
    t.tag("gold")
    r1 = replicate(t, mirror)
    if r1.versions_synced < 1 or r1.tags_synced != 1:
        raise AssertionError(f"first sync wrong: {r1}")
    w.delete_where("event_id % 11 = 0")
    r2 = replicate(t, mirror)
    if r2.versions_synced != 1:
        raise AssertionError(f"incremental sync wrong: {r2}")
    r3 = replicate(t, mirror)
    if r3.versions_synced != 0 or r3.files_copied != 0:
        raise AssertionError(f"steady state not a no-op: {r3}")
    mt = LakeTable(spark, mirror, "ev_repl")
    if mt.read(tag="gold").count() != src.count():
        raise AssertionError("tagged snapshot wrong on the mirror")
    return (
        mt.read()
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("cents").cast("long").alias("cents"),
        )
    )


@register(
    "replica_fence_promote",
    """
    WITH src AS (
      SELECT event_id, event_type,
             CAST(floor(value * 100) AS BIGINT) AS cents
      FROM events WHERE event_id % 3 = 0
    ),
    final AS (
      SELECT event_type,
             CASE WHEN event_id % 30 = 0 THEN event_id ELSE cents END AS cents
      FROM src
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(cents) AS BIGINT) AS sum_cents
    FROM final GROUP BY event_type
    """,
    "r14 mirror write-fence: replicate stamps the mirror REPLICA_OF and "
    "every local commit path refuses (asserted in-query); "
    "promote_replica() detaches, after which a local upsert lands — the "
    "result reads the promoted fork (source rows + the local override).",
)
def replica_fence_promote(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..lake import LakeTable, LakeWriter
    from ..lake.replicate import replicate

    src = _event_source(spark, sf_dir).filter(F.col("event_id") % 3 == 0).select(
        "event_id",
        "event_type",
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    )
    root = _scratch_dir("fence")
    primary, mirror = os.path.join(root, "p"), os.path.join(root, "m")
    t = LakeCatalog(spark, primary).table("ev_f")
    LakeWriter(t, pk=["event_id"]).write(src)
    replicate(t, mirror)
    mt = LakeTable(spark, mirror, "ev_f")
    if mt.replica_of() is None:
        raise AssertionError("mirror not stamped REPLICA_OF")
    mw = LakeWriter(mt, pk=["event_id"])
    local = (
        mt.read()
        .filter(F.col("event_id") % 30 == 0)
        .withColumn("cents", F.col("event_id").cast("long"))
        .drop("_inserted_at")
    )
    try:
        mw.merge(local)
        raise AssertionError("fenced mirror accepted a local commit")
    except ValueError as e:
        if "replication mirror" not in str(e):
            raise
    mt.promote_replica()
    mw.merge(local)  # now a legitimate fork
    return (
        mt.read()
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("cents").cast("long").alias("sum_cents"),
        )
    )


@register(
    "lake_sink_check_constraints",
    """
    WITH src AS (
      SELECT event_id, event_type,
             CAST(abs(floor(value * 100)) AS BIGINT) AS cents
      FROM events WHERE event_id % 4 = 0
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(cents) AS BIGINT) AS sum_cents
    FROM src GROUP BY event_type
    """,
    "r14 Arrow-sink CHECK evaluation: a stored constraint (cents >= 0 "
    "AND event_type IS NOT NULL) compiles to pyarrow.compute and is "
    "enforced per Arrow batch executor-side — the clean batch lands, a "
    "violating batch fails the write and leaves the table untouched "
    "(asserted in-query); the result is the landed content.",
)
def lake_sink_check_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.lake_datasource import register_lake_datasource

    register_lake_datasource(spark)
    cat = _fresh_catalog(spark, "sinkck")
    cat.sql(
        "CREATE TABLE ev_c (event_id BIGINT, event_type STRING, "
        "cents BIGINT, PRIMARY KEY (event_id))"
    )
    cat.sql(
        "ALTER TABLE ev_c ADD CONSTRAINT clean "
        "CHECK (cents >= 0 AND event_type IS NOT NULL)"
    )
    clean = _event_source(spark, sf_dir).filter(F.col("event_id") % 4 == 0).select(
        "event_id",
        "event_type",
        F.abs(F.floor(F.col("value") * 100)).cast("long").alias("cents"),
    )
    sink = lambda df: (  # noqa: E731
        df.write.format("ducklake")
        .option("path", cat.root)
        .option("table", "ev_c")
        .option("mergeKeys", "event_id")
        .mode("append")
        .save()
    )
    sink(clean)
    n_clean = cat.table("ev_c").read().count()
    bad = local_rows_df(spark, 
        [(999_999_901, "EVIL", -5)], "event_id long, event_type string, cents long"
    )
    try:
        sink(bad)
        raise AssertionError("Arrow sink accepted a CHECK-violating batch")
    except Exception as e:  # Spark wraps the task's ConstraintViolation
        if "violates CHECK constraint" not in str(e):
            raise
    if cat.table("ev_c").read().count() != n_clean:
        raise AssertionError("violating batch changed the table")
    return (
        cat.table("ev_c")
        .read()
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("cents").cast("long").alias("sum_cents"),
        )
    )


@register(
    "matview_replace_reinit",
    """
    WITH base AS (
      SELECT event_id, event_type,
             CASE WHEN event_id % 35 = 0 THEN event_id
                  ELSE 2 * CAST(floor(value * 100) AS BIGINT) END AS cents
      FROM events WHERE event_id % 7 = 0
    )
    SELECT event_type,
           CAST(sum(cents) AS BIGINT) AS total,
           CAST(count(*) AS BIGINT) AS n
    FROM base GROUP BY event_type
    """,
    "r14 matview x base-REPLACE: a CREATE OR REPLACE of the base makes "
    "its history disjoint — the incremental refresh REFUSES (asserted "
    "in-query, MV untouched), REFRESH FULL re-initializes from the new "
    "base, and incremental folding resumes cleanly afterwards.",
)
def matview_replace_reinit(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = _fresh_catalog(spark, "mvrepl")
    old = _event_source(spark, sf_dir).filter(F.col("event_id") % 5 == 0).select(
        "event_id",
        "event_type",
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    )
    from ..lake import LakeWriter

    LakeWriter(cat.table("ev_b"), pk=["event_id"]).write(old)
    cat.sql(
        "CREATE MATERIALIZED VIEW mv_b AS SELECT event_type, "
        "sum(cents) AS total, count(*) AS n FROM ev_b GROUP BY event_type"
    )
    # REPLACE the base with a disjoint population (%7, doubled cents)
    cat.sql(
        "CREATE OR REPLACE TABLE ev_b (event_id BIGINT, event_type STRING, "
        "cents BIGINT, PRIMARY KEY (event_id))"
    )
    w2 = LakeWriter(cat.table("ev_b"), pk=["event_id"])
    w2.write(
        _event_source(spark, sf_dir).filter(F.col("event_id") % 7 == 0).select(
            "event_id",
            "event_type",
            (F.floor(F.col("value") * 100).cast("long") * 2).alias("cents"),
        )
    )
    try:
        cat.sql("REFRESH MATERIALIZED VIEW mv_b")
        raise AssertionError("incremental refresh folded across a REPLACE")
    except ValueError as e:
        if "REPLACE" not in str(e):
            raise
    cat.sql("REFRESH MATERIALIZED VIEW mv_b FULL")
    # incremental folding resumes after the re-init
    churn = (
        cat.table("ev_b")
        .read()
        .filter(F.col("event_id") % 35 == 0)
        .withColumn("cents", F.col("event_id").cast("long"))
        .drop("_inserted_at")
    )
    w2.merge(churn)
    st = cat.sql("REFRESH MATERIALIZED VIEW mv_b").collect()[0]
    if "incremental" not in st["detail"]:
        raise AssertionError(f"post-reinit refresh not incremental: {st}")
    return cat.table("mv_b").read().select("event_type", "total", "n")


@register(
    "matview_star_join",
    """
    WITH fact AS (
      SELECT event_id, event_type,
             CAST(floor(value * 100) AS BIGINT) AS cents
      FROM events WHERE event_id % 6 = 0 AND event_id % 66 <> 0
    ),
    dim AS (
      SELECT DISTINCT event_type,
             CASE WHEN length(event_type) % 2 = 0 THEN 'even' ELSE 'odd' END
               AS bucket
      FROM events
    )
    SELECT d.bucket,
           CAST(sum(f.cents) AS BIGINT) AS total,
           CAST(count(*) AS BIGINT) AS n
    FROM fact f JOIN dim d ON f.event_type = d.event_type
    GROUP BY d.bucket
    """,
    "r14 star-join matview: fact JOIN one broadcast dim with GROUP BY a "
    "dim attribute — fact inserts and a predicate delete fold "
    "INCREMENTALLY through the pinned dim snapshot (asserted "
    "incremental in-query); a dim change refuses with a FULL remedy "
    "(also asserted); result is the maintained view content.",
)
def matview_star_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..lake import LakeWriter

    cat = _fresh_catalog(spark, "mvstar")
    ev = _event_source(spark, sf_dir)
    fact0 = ev.filter(F.col("event_id") % 6 == 0).select(
        "event_id",
        "event_type",
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    )
    wf = LakeWriter(cat.table("fact_ev"), pk=["event_id"])
    # initial load holds back the %66 rows so their delete-and-insert
    # churn exercises the incremental fold below
    wf.write(fact0.filter(F.col("event_id") % 66 != 0))
    dim = ev.select("event_type").distinct().select(
        "event_type",
        F.when(F.length("event_type") % 2 == 0, F.lit("even"))
        .otherwise(F.lit("odd")).alias("bucket"),
    )
    LakeWriter(cat.table("dim_et"), pk=["event_type"]).write(dim)
    cat.sql(
        "CREATE MATERIALIZED VIEW mv_star AS SELECT bucket, "
        "sum(cents) AS total, count(*) AS n FROM fact_ev "
        "JOIN dim_et ON fact_ev.event_type = dim_et.event_type "
        "GROUP BY bucket"
    )
    # fact churn: insert the held-back rows, then delete them again —
    # both legs must fold incrementally and exactly cancel
    held = fact0.filter(F.col("event_id") % 66 == 0)
    wf.write(held)
    st = cat.sql("REFRESH MATERIALIZED VIEW mv_star").collect()[0]
    if "incremental" not in st["detail"]:
        raise AssertionError(f"fact fold not incremental: {st}")
    wf.delete_where("event_id % 66 = 0")
    st = cat.sql("REFRESH MATERIALIZED VIEW mv_star").collect()[0]
    if "incremental" not in st["detail"]:
        raise AssertionError(f"fact fold not incremental: {st}")
    # dim change refuses incremental with the FULL remedy
    # (deterministic row: the lexicographically-first event_type)
    first = dim.orderBy("event_type").limit(1)
    LakeWriter(cat.table("dim_et"), pk=["event_type"]).merge(
        first.withColumn("bucket", F.lit("flipped"))
    )
    try:
        cat.sql("REFRESH MATERIALIZED VIEW mv_star")
        raise AssertionError("dim change folded incrementally")
    except ValueError as e:
        if "FULL" not in str(e):
            raise
    # restore the dim row so the view matches the oracle, then FULL
    LakeWriter(cat.table("dim_et"), pk=["event_type"]).merge(first)
    cat.sql("REFRESH MATERIALIZED VIEW mv_star FULL")
    return cat.table("mv_star").read().select("bucket", "total", "n")


@register(
    "sql_qualify_topk",
    """
    WITH src AS (
      SELECT event_id, event_type,
             CAST(floor(value * 100) AS BIGINT) AS cents
      FROM events WHERE event_id % 5 = 0
    )
    SELECT event_type, event_id, cents
    FROM src
    QUALIFY row_number() OVER (PARTITION BY event_type
                               ORDER BY cents DESC, event_id) <= 3
    """,
    "r14 DuckDB-dialect QUALIFY: top-3 rows per event_type by cents "
    "through the catalog SQL path — the inline-window QUALIFY rewrites "
    "onto a __qualify-injected subquery on Spark, while the oracle runs "
    "DuckDB's native QUALIFY verbatim.",
)
def sql_qualify_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..lake import LakeWriter

    cat = _fresh_catalog(spark, "qual")
    LakeWriter(cat.table("src_q"), pk=["event_id"]).write(
        _event_source(spark, sf_dir).filter(F.col("event_id") % 5 == 0).select(
            "event_id",
            "event_type",
            F.floor(F.col("value") * 100).cast("long").alias("cents"),
        )
    )
    return cat.sql(
        "SELECT event_type, event_id, cents FROM src_q "
        "QUALIFY row_number() OVER (PARTITION BY event_type "
        "ORDER BY cents DESC, event_id) <= 3"
    )


@register(
    "sql_upsert_dialect_suite",
    """
    WITH src AS (
      SELECT event_id, event_type,
             CAST(floor(value * 100) AS BIGINT) AS cents
      FROM events WHERE event_id % 8 = 0
    ),
    conflicted AS (  -- ON CONFLICT DO UPDATE: %40 keys re-inserted, cents summed
      SELECT event_id, event_type,
             CASE WHEN event_id % 40 = 0 THEN cents + event_id
                  ELSE cents END AS cents
      FROM src
    ),
    bumped AS (      -- UPDATE ... FROM a deltas table: %80 keys += 7
      SELECT event_id, event_type,
             CASE WHEN event_id % 80 = 0 THEN cents + 7 ELSE cents END AS cents
      FROM conflicted
    )
    SELECT event_type,    -- DELETE ... USING drops %160 keys
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(cents) AS BIGINT) AS sum_cents
    FROM bumped WHERE event_id % 160 <> 0
    GROUP BY event_type
    """,
    "r14 DuckDB upsert dialect through catalog SQL: INSERT ... ON "
    "CONFLICT DO UPDATE (excluded.* refs), UPDATE ... FROM a source "
    "table, DELETE ... USING — each compiled onto the pk-keyed MERGE; "
    "the oracle replays the same edits as plain arithmetic.",
)
def sql_upsert_dialect_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..lake import LakeWriter

    cat = _fresh_catalog(spark, "updial")
    src = _event_source(spark, sf_dir).filter(F.col("event_id") % 8 == 0).select(
        "event_id",
        "event_type",
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    )
    LakeWriter(cat.table("t_up"), pk=["event_id"]).write(src)
    # ON CONFLICT DO UPDATE: re-insert the %40 subset, summing cents
    # with the incoming event_id
    src.filter(F.col("event_id") % 40 == 0).createOrReplaceTempView("oc_src")
    cat.sql(
        "INSERT INTO t_up SELECT * FROM oc_src ON CONFLICT (event_id) "
        "DO UPDATE SET cents = t_up.cents + excluded.event_id"
    )
    # UPDATE ... FROM: +7 on the %80 subset via a deltas table
    LakeWriter(cat.table("deltas"), pk=["event_id"]).write(
        src.filter(F.col("event_id") % 80 == 0).select(
            "event_id", F.lit(7).cast("long").alias("bump")
        )
    )
    cat.sql(
        "UPDATE t_up SET cents = t_up.cents + deltas.bump FROM deltas "
        "WHERE t_up.event_id = deltas.event_id"
    )
    # DELETE ... USING: drop the %160 subset
    LakeWriter(cat.table("gone"), pk=["event_id"]).write(
        src.filter(F.col("event_id") % 160 == 0).select("event_id")
    )
    cat.sql(
        "DELETE FROM t_up USING gone WHERE t_up.event_id = gone.event_id"
    )
    spark.catalog.dropTempView("oc_src")
    return (
        cat.table("t_up")
        .read()
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("cents").cast("long").alias("sum_cents"),
        )
    )


@register(
    "sql_export_import_roundtrip",
    """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(floor(value * 100) AS BIGINT) % 97) AS BIGINT)
               AS total_b
    FROM events
    WHERE event_id % 6 = 0
    GROUP BY event_type
    """,
    "EXPORT DATABASE / IMPORT DATABASE (r14, DuckDB parity): the whole "
    "catalog — table rows as one distributed parquet write per table, "
    "plus a replayable DDL script with macros before views, views in "
    "dependency order, matviews last — round-trips into a fresh lake. "
    "The import replays DDL idempotently and bulk-loads through COPY "
    "INTO (crashed-import rerun loads 0 files). The returned aggregate "
    "is computed THROUGH the imported view, so the macro-inside-view "
    "expansion path is what's being value-checked.",
)
def sql_export_import_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..lake import LakeWriter

    src = _event_source(spark, sf_dir).filter(F.col("event_id") % 6 == 0).select(
        "event_id",
        "event_type",
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    )
    root = _scratch_dir("expdb")
    cat = LakeCatalog(spark, os.path.join(root, "src"))
    LakeWriter(cat.table("ev_exp"), pk=["event_id"]).write(src)
    cat.sql("CREATE MACRO bucket(c) AS c % 97")
    cat.sql(
        "CREATE VIEW v_bucket AS "
        "SELECT event_id, event_type, bucket(cents) AS b FROM ev_exp"
    )
    cat.sql(
        "CREATE MATERIALIZED VIEW mv_exp AS SELECT event_type, "
        "count(*) AS n, sum(cents) AS total_cents FROM ev_exp "
        "GROUP BY event_type"
    )
    dump = os.path.join(root, "dump")
    cat.sql(f"EXPORT DATABASE '{dump}'")
    dst = LakeCatalog(spark, os.path.join(root, "dst"))
    dst.sql(f"IMPORT DATABASE '{dump}'")
    # the matview must have re-materialized against the imported base
    mv_rows = {
        r["event_type"]: (r["n"], r["total_cents"])
        for r in dst.sql("SELECT * FROM mv_exp").collect()
    }
    base_rows = {
        r["event_type"]: (r["n"], r["total_cents"])
        for r in dst.sql(
            "SELECT event_type, count(*) AS n, sum(cents) AS total_cents "
            "FROM ev_exp GROUP BY event_type"
        ).collect()
    }
    if mv_rows != base_rows:
        raise AssertionError("imported matview diverges from imported base")
    # rerun (crashed-import recovery) must load 0 new files, 0 new rows
    n_before = dst.sql("SELECT count(*) AS n FROM ev_exp").collect()[0]["n"]
    dst.sql(f"IMPORT DATABASE '{dump}'")
    n_after = dst.sql("SELECT count(*) AS n FROM ev_exp").collect()[0]["n"]
    if n_before != n_after:
        raise AssertionError("IMPORT DATABASE rerun duplicated rows")
    return dst.sql(
        "SELECT event_type, CAST(count(*) AS BIGINT) AS n, "
        "CAST(sum(b) AS BIGINT) AS total_b "
        "FROM v_bucket GROUP BY event_type"
    )


@register(
    "sql_column_defaults",
    """
    SELECT event_type,
           'new' AS status,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN event_id % 10 = 0 THEN 3 ELSE 9 END)
                AS BIGINT) AS total_w
    FROM events
    WHERE event_id % 5 = 0
    GROUP BY event_type
    """,
    "Column DEFAULT + NOT NULL constraints (r14, DuckDB column-option "
    "parity): CREATE TABLE stores `default.<col>` / `notnull.<col>` "
    "properties; INSERTs that omit the columns land the default "
    "expression (writer-conform fill — one selectExpr, no extra pass), "
    "NOT NULL enforces strictly inside the same single-aggregate "
    "constraint job CHECKs use. ALTER COLUMN SET DEFAULT changes the "
    "fill for subsequent writes only, which the two-batch split here "
    "value-checks.",
)
def sql_column_defaults(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = _event_source(spark, sf_dir).filter(F.col("event_id") % 5 == 0).select(
        "event_id",
        "event_type",
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    )
    cat = _fresh_catalog(spark, "dflt")
    cat.sql(
        "CREATE TABLE ev_dflt (event_id BIGINT, event_type STRING, "
        "cents BIGINT, status STRING DEFAULT 'new' NOT NULL, "
        "weight BIGINT DEFAULT 3, PRIMARY KEY (event_id))"
    )
    src.createOrReplaceTempView("dflt_src")
    cat.sql(
        "INSERT INTO ev_dflt (event_id, event_type, cents) "
        "SELECT * FROM dflt_src WHERE event_id % 10 = 0"
    )
    cat.sql("ALTER TABLE ev_dflt ALTER COLUMN weight SET DEFAULT 9")
    cat.sql(
        "INSERT INTO ev_dflt (event_id, event_type, cents) "
        "SELECT * FROM dflt_src WHERE event_id % 10 = 5"
    )
    spark.catalog.dropTempView("dflt_src")
    return cat.sql(
        "SELECT event_type, status, CAST(count(*) AS BIGINT) AS n, "
        "CAST(sum(weight) AS BIGINT) AS total_w "
        "FROM ev_dflt GROUP BY event_type, status"
    )


@register(
    "sql_snapshot_lineage",
    """
    SELECT CAST(1 AS BIGINT) AS version, CAST(count(*) AS BIGINT) AS n
    FROM events WHERE event_id % 14 = 0
    UNION ALL
    SELECT CAST(2 AS BIGINT), CAST(count(*) AS BIGINT)
    FROM events WHERE event_id % 7 = 0
    UNION ALL
    SELECT CAST(3 AS BIGINT), CAST(count(*) AS BIGINT)
    FROM events WHERE event_id % 7 = 0 AND event_id % 21 <> 0
    """,
    "Snapshot lineage through the DuckLake dialect (r14): INSERT builds "
    "v1, INSERT OR REPLACE (the ON-CONFLICT MERGE shorthand) builds v2, "
    "DELETE builds v3; the query reads each snapshot back with the "
    "DuckLake-native `AT (VERSION => n)` spelling and cross-checks the "
    "version count against the table_snapshots('t') metadata TVF "
    "in-query (zero data files opened for the TVF side). Counting rows "
    "at three pinned versions value-checks that time travel, the upsert "
    "shorthand, and predicate delete compose.",
)
def sql_snapshot_lineage(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = _event_source(spark, sf_dir).filter(F.col("event_id") % 7 == 0).select(
        "event_id",
        "event_type",
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    )
    cat = _fresh_catalog(spark, "snap")
    cat.sql(
        "CREATE TABLE ev_snap (event_id BIGINT, event_type STRING, "
        "cents BIGINT, PRIMARY KEY (event_id))"
    )
    src.createOrReplaceTempView("snap_src")
    cat.sql(
        "INSERT INTO ev_snap SELECT * FROM snap_src WHERE event_id % 14 = 0"
    )
    cat.sql("INSERT OR REPLACE INTO ev_snap SELECT * FROM snap_src")
    cat.sql("DELETE FROM ev_snap WHERE event_id % 21 = 0")
    spark.catalog.dropTempView("snap_src")
    tip = cat.sql(
        "SELECT max(version) AS v FROM table_snapshots('ev_snap')"
    ).collect()[0]["v"]
    if tip != 3:
        raise AssertionError(f"expected 3 committed versions, got {tip}")
    return cat.sql(
        "SELECT CAST(1 AS BIGINT) AS version, CAST(count(*) AS BIGINT) AS n "
        "FROM ev_snap AT (VERSION => 1) "
        "UNION ALL "
        "SELECT CAST(2 AS BIGINT), CAST(count(*) AS BIGINT) "
        "FROM ev_snap AT (SNAPSHOT => 2) "
        "UNION ALL "
        "SELECT CAST(3 AS BIGINT), CAST(count(*) AS BIGINT) "
        "FROM ev_snap AT (VERSION => 3)"
    )


@register(
    "multi_table_txn_atomic",
    """
    WITH s AS (
      SELECT event_id, event_type,
             CAST(floor(value * 100) AS BIGINT) AS cents
      FROM events WHERE event_id % 5 = 0
    ),
    final_a AS (
      SELECT event_id, event_type,
             CASE WHEN event_id % 20 = 0 THEN event_id ELSE cents END AS cents
      FROM s
    ),
    b AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS batch_n
      FROM s WHERE event_id % 2 = 1 OR event_id % 20 = 0
      GROUP BY event_type
    )
    SELECT a.event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(a.cents) AS BIGINT) AS sum_cents,
           max(b.batch_n) AS batch_n
    FROM final_a a JOIN b ON a.event_type = b.event_type
    GROUP BY a.event_type
    """,
    "r14 atomic multi-table transaction (lake/txn.py): BEGIN; upsert "
    "into a fact table AND its per-type audit table; a SECOND catalog "
    "over the same root must see the pre-txn snapshot of BOTH mid-txn "
    "(asserted), then both flip visible at the single COMMIT marker "
    "(asserted). A second BEGIN writes junk to both and ROLLBACK "
    "physically undoes it — version chains return to their pre-junk "
    "tips (asserted). DuckLake catalog parity: the reference gets this "
    "from PG transactions (DucklakeConnectionFactory.java:36-95); here "
    "the commit point is one create-if-absent marker PUT.",
)
def multi_table_txn_atomic(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..lake import LakeWriter

    s = _event_source(spark, sf_dir).filter(F.col("event_id") % 5 == 0).select(
        "event_id",
        "event_type",
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    )
    root = _scratch_dir("txn")
    cat = LakeCatalog(spark, root)
    outside = LakeCatalog(spark, root)
    wa = LakeWriter(cat.table("txn_ev"), pk=["event_id"])
    wb = LakeWriter(cat.table("txn_audit"), pk=["event_type"])
    initial = s.filter(F.col("event_id") % 2 == 0)
    wa.write(initial)
    n_initial = initial.count()

    # --- atomic commit across both tables ---
    batch = s.filter(
        (F.col("event_id") % 2 == 1) | (F.col("event_id") % 20 == 0)
    ).withColumn(
        "cents",
        F.when(F.col("event_id") % 20 == 0, F.col("event_id")).otherwise(
            F.col("cents")
        ),
    )
    audit = batch.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("batch_n")
    )
    cat.begin()
    wa.write(batch)
    wb.write(audit)
    mid_a = outside.table("txn_ev").read().count()
    if mid_a != n_initial:
        raise AssertionError(
            f"txn leak: outside reader saw {mid_a} rows mid-txn, "
            f"expected the pre-txn {n_initial}"
        )
    if outside.table("txn_audit").exists():
        try:
            outside.table("txn_audit").read()
            raise AssertionError("txn leak: audit table visible mid-txn")
        except FileNotFoundError:
            pass
    cat.commit_txn()
    post_a = outside.table("txn_ev").read().count()
    expected_a = s.count()
    if post_a != expected_a:
        raise AssertionError(
            f"post-commit fact count {post_a} != expected {expected_a}"
        )

    # --- rollback physically undoes both ---
    tip_a = cat.table("txn_ev").current_version()
    tip_b = cat.table("txn_audit").current_version()
    junk = local_rows_df(spark, 
        [(-1, "junk", -1)], "event_id long, event_type string, cents long"
    )
    cat.begin()
    wa.write(junk)
    wb.write(
        local_rows_df(spark, 
            [("junk", -1)], "event_type string, batch_n long"
        )
    )
    cat.rollback_txn()
    if cat.table("txn_ev").current_version() != tip_a:
        raise AssertionError("rollback left fact-table versions behind")
    if cat.table("txn_audit").current_version() != tip_b:
        raise AssertionError("rollback left audit-table versions behind")
    if outside.table("txn_ev").read().filter("event_id < 0").count() != 0:
        raise AssertionError("rollback left junk rows visible")

    return outside.sql(
        "SELECT a.event_type, CAST(count(*) AS BIGINT) AS n, "
        "CAST(sum(a.cents) AS BIGINT) AS sum_cents, "
        "max(b.batch_n) AS batch_n "
        "FROM txn_ev a JOIN txn_audit b ON a.event_type = b.event_type "
        "GROUP BY a.event_type"
    )


@register(
    "sql_group_by_all",
    """
    WITH src AS (
      SELECT event_type, user_id % 7 AS cohort,
             CAST(floor(value * 100) AS BIGINT) AS cents
      FROM events WHERE event_id % 3 = 0
    )
    SELECT event_type, cohort,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(cents) AS BIGINT) AS sum_cents
    FROM src
    GROUP BY ALL
    ORDER BY ALL
    """,
    "DuckDB-dialect GROUP BY ALL / ORDER BY ALL (r14): both engines "
    "support the forms natively (Spark since 3.4, SPARK-40218), so the "
    "statement runs VERBATIM through the catalog SQL path and DuckDB — "
    "grouping keys inferred from the non-aggregate select list, "
    "ordering over the full projection. Plan shape is identical to the "
    "explicit GROUP BY: one partial+final hash aggregate around one "
    "exchange.",
)
def sql_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..lake import LakeWriter

    cat = _fresh_catalog(spark, "gba")
    LakeWriter(cat.table("ev_gba"), pk=["event_id"]).write(
        _event_source(spark, sf_dir).filter(F.col("event_id") % 3 == 0).select(
            "event_id",
            "event_type",
            (F.col("user_id") % 7).alias("cohort"),
            F.floor(F.col("value") * 100).cast("long").alias("cents"),
        )
    )
    return cat.sql(
        "SELECT event_type, cohort, "
        "CAST(count(*) AS BIGINT) AS n, "
        "CAST(sum(cents) AS BIGINT) AS sum_cents "
        "FROM ev_gba GROUP BY ALL ORDER BY ALL"
    )


@register(
    "inline_small_commits",
    """
    WITH tiny AS (
      SELECT event_id, event_type,
             CAST(floor(value * 100) AS BIGINT) AS cents
      FROM events WHERE event_id % 997 = 0
    ),
    bulk AS (
      SELECT event_id, event_type,
             CAST(floor(value * 100) AS BIGINT) AS cents
      FROM events WHERE event_id % 997 <> 0 AND event_id % 4 = 0
    ),
    unioned AS (
      SELECT * FROM tiny UNION ALL SELECT * FROM bulk
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(cents) AS BIGINT) AS sum_cents
    FROM unioned GROUP BY event_type
    """,
    "r14 data inlining (lake/inline.py; DucklakeSinkConfig.java:39/85 "
    "data.inlining.row.limit parity): tiny per-type inserts commit as "
    "metadata-only inline versions — asserted in-query: after the tiny "
    "drip the manifest holds ZERO data files and a pending buffer, and "
    "the drip's last_op is INSERT_INLINE — then a bulk append lands as "
    "files beside the buffer, reads union both, and FLUSH INLINED DATA "
    "materializes the buffer (asserted empty after). The result "
    "aggregates the mixed table through the catalog SQL path.",
)
def inline_small_commits(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..lake import LakeWriter
    from ..lake.inline import inline_state

    src = _event_source(spark, sf_dir).select(
        "event_id",
        "event_type",
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    )
    cat = _fresh_catalog(spark, "inl")
    cat.sql(
        "CREATE TABLE ev_inl (event_id BIGINT, event_type STRING, "
        "cents BIGINT, PRIMARY KEY (event_id))"
    )
    cat.sql(
        "ALTER TABLE ev_inl SET TBLPROPERTIES "
        "('write.inlining.row.limit'='150')"
    )
    t = cat.table("ev_inl")
    w = LakeWriter(t, pk=["event_id"])
    # the tiny drip: one micro-batch per event type (CDC trickle shape)
    # drip counts 2 / 11 / 101 at sf0.001 / 0.01 / 0.1 — under the 150
    # limit at every driver correctness scale — while the bulk half is
    # 249 / 2.5k / 25k — always over it; both asserted modes hold from
    # sf0.001 through sf0.1 (sf1 would overflow the drip by design)
    tiny = src.filter(F.col("event_id") % 997 == 0)
    for row in sorted(r["event_type"] for r in tiny.select("event_type").distinct().collect()):
        w.append(tiny.filter(F.col("event_type") == row))
    m = t.manifest()
    blobs, pending = inline_state(m)
    if m.all_files() or not blobs:
        raise AssertionError(
            f"inline path did not engage: files={len(m.all_files())}, "
            f"blobs={len(blobs)}"
        )
    if m.props.get("last_op") != "INSERT_INLINE":
        raise AssertionError(f"unexpected last_op {m.props.get('last_op')!r}")
    # bulk rows land as files beside the pending buffer
    w.append(src.filter((F.col("event_id") % 997 != 0) & (F.col("event_id") % 4 == 0)))
    if not t.manifest().all_files():
        raise AssertionError("bulk append minted no files")
    if inline_state(t.manifest())[1] != pending:
        raise AssertionError("bulk append disturbed the inline buffer")
    # flush materializes; reads agree before and after
    before = t.read().count()
    cat.sql("FLUSH INLINED DATA ev_inl")
    if inline_state(t.manifest())[1] != 0:
        raise AssertionError("flush left pending rows")
    if t.read().count() != before:
        raise AssertionError("flush changed the row count")
    return cat.sql(
        "SELECT event_type, CAST(count(*) AS BIGINT) AS n, "
        "CAST(sum(cents) AS BIGINT) AS sum_cents "
        "FROM ev_inl GROUP BY event_type"
    )
