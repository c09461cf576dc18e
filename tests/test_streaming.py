"""Streaming tests: a watermarked window aggregate of a file-source
stream appended into the lake and run on the RocksDB state store, plus
an end-to-end streamed ingestion into the lake (checkpointed
foreachBatch)."""

import json
import os

import pytest
from pyspark.sql import functions as F

from ducklake_kafka_connect_spark.lake import LakeCatalog
from ducklake_kafka_connect_spark.sources.kafka_source import (
    KAFKA_LIKE_SCHEMA,
    file_stream_source,
)
from ducklake_kafka_connect_spark.streaming.ingest import (
    IngestConfig,
    IngestPipeline,
    TableSpec,
)

EVENTS = [
    # user 1: two sessions (gap > 30 min); user 2: one session
    (1, "2024-01-01T10:00:00", 10.0),
    (1, "2024-01-01T10:10:00", 11.0),
    (1, "2024-01-01T12:00:00", 12.0),
    (2, "2024-01-01T10:05:00", 20.0),
    (2, "2024-01-01T10:20:00", 21.0),
]


def windowed_counts(events, window, watermark):
    """Tumbling event-time windows with a watermark: count and value sum
    per window, emitted in append mode once the watermark passes."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "n", "sum_value")
    )


@pytest.fixture()
def event_stream(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    rows = [
        {"user_id": u, "ts": ts, "value": v}
        for u, ts, v in EVENTS
    ]
    (src / "batch0.json").write_text("\n".join(json.dumps(r) for r in rows))
    schema = "user_id long, ts timestamp, value double"
    return (
        spark.readStream.format("json").schema(schema).load(str(src))
    )


class TestWindowedAggToLake:
    def test_windowed_counts_append_to_lake(self, spark, tmp_path):
        """Composition: file stream → watermarked tumbling windows →
        foreachBatch append into a lake table partitioned by day of the
        window — closed windows land incrementally, exactly once per
        window under append mode."""
        src = tmp_path / "src"
        src.mkdir()
        rows = [
            {"user_id": u, "ts": ts, "value": v}
            for u, ts, v in EVENTS
        ]
        (src / "b0.json").write_text("\n".join(json.dumps(r) for r in rows))
        stream = (
            spark.readStream.format("json")
            .schema("user_id long, ts timestamp, value double")
            .load(str(src))
        )
        agg = windowed_counts(stream, "1 hour", "1 second")
        catalog = LakeCatalog(spark, str(tmp_path / "lake"))
        from ducklake_kafka_connect_spark.lake import LakeWriter

        def sink(batch, epoch_id):
            if not batch.isEmpty():
                LakeWriter(
                    catalog.table("hourly_counts"),
                    partition_by="day(window_start)",
                ).append(batch)

        q = (
            agg.writeStream.foreachBatch(sink)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        table = catalog.table("hourly_counts")
        out = {str(r["window_start"]): (r["n"], r["sum_value"]) for r in table.read().collect()}
        assert out == {"2024-01-01 10:00:00": (4, 62.0)}
        assert any("_pd_day_window_start=1" in k for k in table.manifest().files)


class TestStreamedIngestion:
    def test_file_stream_to_lake_with_checkpoint(self, spark, tmp_path):
        src = tmp_path / "kafka_like"
        src.mkdir()
        msgs = [
            {"key": None, "value": json.dumps({"id": i, "v": f"x{i}"}),
             "topic": "t_stream", "partition": 0, "offset": i, "timestamp": None}
            for i in range(5)
        ]
        (src / "b0.json").write_text("\n".join(json.dumps(m) for m in msgs))

        catalog = LakeCatalog(spark, str(tmp_path / "lake"))
        cfg = IngestConfig(
            tables={"t_stream": TableSpec(id_columns=["id"], auto_create=True)}
        )
        pipe = IngestPipeline(catalog, cfg)
        stream = file_stream_source(spark, str(src), fmt="json", schema=KAFKA_LIKE_SCHEMA)
        ckpt = str(tmp_path / "ckpt")
        q = (
            stream.writeStream.foreachBatch(pipe.process_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        table = catalog.table("t_stream")
        assert table.read().count() == 5

        # second run with an upsert batch: checkpoint skips batch 0,
        # processes only the new file, MERGE updates not duplicates
        msgs2 = [
            {"key": None, "value": json.dumps({"id": 0, "v": "updated"}),
             "topic": "t_stream", "partition": 0, "offset": 10, "timestamp": None}
        ]
        (src / "b1.json").write_text("\n".join(json.dumps(m) for m in msgs2))
        q2 = (
            file_stream_source(spark, str(src), fmt="json", schema=KAFKA_LIKE_SCHEMA)
            .writeStream.foreachBatch(pipe.process_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q2.awaitTermination(120)
        rows = {r["id"]: r["v"] for r in table.read().collect()}
        assert rows == {0: "updated", 1: "x1", 2: "x2", 3: "x3", 4: "x4"}


class TestRocksDBStateStore:
    def test_stateful_query_on_rocksdb(self, spark, event_stream, tmp_path):
        """The windowed aggregate runs on the RocksDB state store
        provider (off-heap state — the 1e9-key scale configuration) and
        produces identical results; the checkpoint must actually contain
        RocksDB changelog/snapshot state files."""
        from ducklake_kafka_connect_spark.session import (
            ROCKSDB_PROVIDER,
            enable_rocksdb_state_store,
        )

        prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
        enable_rocksdb_state_store(spark)
        ckpt = str(tmp_path / "ckpt_rocks")
        try:
            assert (
                spark.conf.get("spark.sql.streaming.stateStore.providerClass")
                == ROCKSDB_PROVIDER
            )
            q = (
                windowed_counts(event_stream, "1 hour", "1 second")
                .writeStream.format("memory")
                .queryName("rocks_counts")
                .outputMode("append")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)
            rows = {
                str(r["window_start"]): (r["n"], r["sum_value"])
                for r in spark.sql("SELECT * FROM rocks_counts").collect()
            }
            assert rows["2024-01-01 10:00:00"] == (4, 62.0)
            state_files = []
            for dirpath, _d, files in os.walk(os.path.join(ckpt, "state")):
                state_files += [os.path.join(dirpath, f) for f in files]
            assert any(
                f.endswith((".changelog", ".zip", ".sst")) for f in state_files
            ), f"expected RocksDB state artifacts, got: {state_files[:10]}"
        finally:
            if prev is None:
                spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
            else:
                spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
