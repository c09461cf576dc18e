"""ducklake_kafka_connect_spark — a PySpark-native lakehouse-ingestion engine.

A from-scratch rebuild of the capabilities of the reference connector
``inyo-global/ducklake-kafka-connect`` (a Kafka Connect sink that ingests
JSON / Avro / Arrow-IPC records into DuckLake tables), re-expressed on the
Spark DataFrame / Structured Streaming stack:

- ``schema/``    — schemaless inference, schema unification (promotion
                   ladder), table-evolution reconciliation.
- ``lake/``      — parquet-backed transactional-ish tables with partition
                   expressions, auto-create / evolve, and a partition-pruned
                   broadcast-join MERGE upsert (Delta is not available in
                   this image, so copy-on-write merge is built here).
- ``sources/``   — decode paths: schemaless JSON, Avro, Arrow IPC, Kafka.
- ``streaming/`` — foreachBatch ingestion pipeline with DLQ routing.
- ``operators/`` — beyond-parity operators: as-of and range joins,
                   salted skew aggregation, an IVF-PQ similarity index,
                   text tokens / language ID, and the plan memo and md5
                   hash the query surface shares.
- ``functions/`` — scalar helpers (ISO-8601 timestamp sniff/parse, JSON
                   canonicalization) as Catalyst column expressions.
- ``plans/``     — the named query surface exposed to the driver oracle.

Design stance: declare everything with the DataFrame API and let
Catalyst/Tungsten pick physical plans; Python UDFs only where built-ins
can't express the semantics (and then Arrow-vectorized).
"""

__version__ = "0.1.0"
