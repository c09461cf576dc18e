"""Streaming ingestion pipeline: decode → DLQ split → MERGE/INSERT.

The Spark re-expression of the reference's hot path (SURVEY §3.1):

    Kafka Connect put() → group by partition → convert/unify → buffer
    → threshold flush → consolidate → ensureTable → MERGE/INSERT

becomes

    readStream → foreachBatch( route by topic → decode_json →
    split_dlq → LakeWriter.write )

Everything the reference hand-builds disappears into engine behavior:
buffering/thresholds are the trigger interval + maxOffsetsPerTrigger
(E1), per-partition parallelism is task scheduling (E5), spill is the
UnifiedMemoryManager (A11), at-least-once + idempotent MERGE is the
checkpoint + merge key (E8) — and the offset only advances after the
batch commits, which is strictly stronger than the reference's
decoupled offset commits (E8b).

Config parity (``connect/DucklakeSinkConfig.java``): topic→table map
with identity fallback (A2), per-table id-columns (D2), partition-by
expressions (B12), auto-create flag default false (C8).

Small micro-batches take one Spark job. ``process_batch`` persists the
batch and probes it with ``limit(LOCAL_BATCH_MAX_ROWS + 1).toArrow()``
(the job that fills the cache). A batch that fits is rebuilt on the
driver as an Arrow-backed LocalRelation and the decode runs on it:
Spark's ``ConvertToLocalRelation`` folds ``from_json`` and the topic
filters into local data, so the inference sample reads driver-side rows
with no job. The probe is bounded in bytes as well as rows: it ships a
row's values only when the row is at most
``ARROW_MERGE_MAX_BYTES // (LOCAL_BATCH_MAX_ROWS + 1)`` bytes (nulls
otherwise), so it never moves more than about the Arrow merge's own
byte cap to the driver.

Each decoded part is evaluated at most once. A folded decode is read as
a pyarrow table with no job. A decode for a table that takes the
driver-side Arrow merge (it exists, has a PK, is copy-on-write and
``LakeWriter.arrow_merge_skip`` admits its manifest) is collected by one
``toArrow`` job: the rows the merge would collect anyway, under the
same byte bound. On the evaluated rows the DLQ split, the
last-wins-by-offset dedup and the DLQ rows are computed on the driver;
the good rows reach the writer as an Arrow-backed LocalRelation that it
reads with no job, and the DLQ is appended only when it holds rows. A
decode that did not fold and whose table does not take the Arrow merge
(table creation, no PK, merge-on-read, a table or batch over the Arrow
merge's cap) splits on Spark over a persisted decode.

Counters: ``ingest.localBatch`` per batch on the local path,
``ingest.localSkip.<reason>`` per batch that keeps the distributed path
(``rows`` over the gate, ``bytes`` a row over the per-row byte cap,
``schema`` the Arrow round trip cannot carry, ``not_local`` a rebuild
that did not plan as a LocalRelation), ``ingest.arrowSkip.<reason>``
per decoded part of an Arrow-merge table that splits on Spark
(``schema``, ``size_cap`` or ``not_local``).
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from ..lake import LakeCatalog, LakeWriter
from ..lake.inline import DEFAULT_INLINING_ROW_LIMIT, parse_inlining_limit  # noqa: F401  (re-exported)
from ..lake.relation_cache import is_local_plan, local_plan_arrow
from ..lake.writer import (
    ARROW_MERGE_MAX_BYTES,
    _dedup_last_wins,
    _eval_arrow,
    arrow_merge_over_cap,
    known_size,
)
from ..metrics import REGISTRY
from ..schema.reconcile import ReconcileError
from ..sources.json_decode import CORRUPT_COL, decode_json, dlq_rows, quote_ident, split_dlq

_TOPIC_RE = re.compile(r"^[A-Za-z0-9._-]+$")

# Largest batch process_batch runs on folded local plans. The folded
# path evaluates the decode projection interpreted on one driver thread
# each time a plan is optimized, so its cost grows with rows while the
# jobs it saves are a fixed cost. Warm process_batch ms (JSON events
# with 10 % updates, one topic, into a PK table created with 1k rows;
# local[2] on a 4-core host; median of 5 batches per run, the range
# over 1-3 runs):
#     rows    local path   distributed path
#      200     737 - 910        1063 - 1147
#       1k     650 - 684         964 - 1108
#       2k           926               1113
#       4k     907 - 1044         798 - 1232
#      10k    1509 - 1889         871 - 878
# The break-even lies between 2k and 4k rows.
LOCAL_BATCH_MAX_ROWS = 2048


@dataclass
class TableSpec:
    """Per-table connector config (ducklake.table.<t>.* analogues plus
    the worker's value.converter choice as a per-table ``format``)."""

    id_columns: list[str] = field(default_factory=list)
    partition_by: str | None = None
    auto_create: bool = False
    format: str = "json"  # json | avro | avro_registry | arrow | mixed | proto | csv
    avro_schema: str | None = None
    # {field_number: ProtoField} (sources/proto_lite.py) for format='proto'
    proto_schema: dict | None = None
    # DDL string ("pk long, name string") for format='csv'; field order
    # = wire column order
    csv_schema: str | None = None
    csv_options: dict | None = None
    confluent_framing: bool = False
    # DATA_INLINING_ROW_LIMIT analogue: None→default 10000, "off"→disable.
    # Here the limit switches write-path auto-compaction (small commits
    # get folded together) rather than the reference's catalog inlining:
    # the same contract, tiny batches must not accrete as standalone files
    inlining_row_limit: str | int | None = None
    # CHECK constraints with CONNECTOR semantics: violating ROWS route to
    # the DLQ with the violated constraint names (the pipeline must not
    # crash on bad data — contrast LakeWriter(check_constraints=...),
    # which rejects whole batches at the lake boundary)
    check_constraints: dict = field(default_factory=dict)
    # SMT hook (B13, README.md:204-212 TimestampConverter analogue): a
    # DataFrame→DataFrame transform applied after decode + constraint
    # routing, before the write — arbitrary per-table record rewriting
    # exactly where the reference applies its single-message transforms
    transform: object = None
    # write.merge.mode analogue as per-table connector config: None →
    # the table property / copy-on-write default; 'merge-on-read' makes
    # every upsert commit delta + tombstone files (lake/mor.py) — the
    # right mode for wide tables under CDC-style streaming upserts
    merge_mode: str | None = None

    def __post_init__(self):
        if self.format not in ("json", "avro", "avro_registry", "arrow", "mixed", "proto", "csv"):
            raise ValueError(f"Unknown format: {self.format!r}")
        if self.merge_mode is not None:
            from ..lake.mor import MODE_COW, MODE_MOR

            if self.merge_mode not in (MODE_COW, MODE_MOR):
                raise ValueError(
                    f"Unknown merge-mode: {self.merge_mode!r} "
                    f"(expected {MODE_COW!r} or {MODE_MOR!r})"
                )
        if self.format == "avro" and not self.avro_schema:
            raise ValueError("format='avro' requires avro_schema")
        if self.format == "proto" and not self.proto_schema:
            raise ValueError("format='proto' requires proto_schema")
        if self.format == "csv" and not self.csv_schema:
            raise ValueError("format='csv' requires csv_schema")
        # validate eagerly (ConfigException-at-construction parity) and
        # ALSO validate partition expressions up front
        self.inlining_rows = parse_inlining_limit(self.inlining_row_limit)
        if self.partition_by is not None:
            from ..lake.partitioning import parse_partition_exprs

            parse_partition_exprs(self.partition_by)


@dataclass
class IngestConfig:
    topic2table: dict[str, str] = field(default_factory=dict)
    tables: dict[str, TableSpec] = field(default_factory=dict)
    dlq_suffix: str = "_dlq"
    # commit-conflict replan budget for every writer this pipeline
    # builds — ducklake.max_retry_count (DucklakeSinkConfig.java:62,164)
    max_retry_count: int = 10

    def __post_init__(self):
        for topic, table in self.topic2table.items():
            if not _TOPIC_RE.match(topic) or not _TOPIC_RE.match(table):
                raise ValueError(
                    f"Invalid topic→table mapping entry: {topic!r}:{table!r}"
                )

    @staticmethod
    def parse_topic2table(spec: str) -> dict[str, str]:
        """Parse ``"t1:tbl1,t2:tbl2"`` (TopicToTableValidator.java:99-154)."""
        out: dict[str, str] = {}
        for pair in spec.split(","):
            pair = pair.strip()
            if not pair:
                continue
            if ":" not in pair:
                raise ValueError(f"Invalid topic:table pair: {pair!r}")
            topic, _, table = pair.partition(":")
            topic, table = topic.strip(), table.strip()
            if not topic or not table:
                raise ValueError(f"Invalid topic:table pair: {pair!r}")
            if topic in out:
                raise ValueError(f"Duplicate topic in mapping: {topic!r}")
            out[topic] = table
        return out

    def table_for(self, topic: str) -> str:
        return self.topic2table.get(topic, topic)  # identity fallback

    def spec_for(self, table: str) -> TableSpec:
        return self.tables.get(table, TableSpec())


def _local_skip(reason: str) -> None:
    REGISTRY.inc(f"ingest.localSkip.{reason}")


def _has_map(dt: T.DataType) -> bool:
    if isinstance(dt, T.ArrayType):
        return _has_map(dt.elementType)
    if isinstance(dt, T.StructType):
        return any(_has_map(f.dataType) for f in dt.fields)
    return isinstance(dt, T.MapType)


def _value_bytes(expr: str, dt: T.DataType, depth: int = 0) -> str:
    """SQL for the driver bytes ``expr`` costs in one row: octets of
    its strings and binaries, nested ones included, plus 8 per
    fixed-width value (maps never get here, see ``_has_map``). Built as
    one SQL string: a Column tree costs a Py4J round trip per node,
    about 80 ms per probe."""
    if isinstance(dt, (T.StringType, T.BinaryType)):
        return f"coalesce(octet_length({expr}), 0)"
    if isinstance(dt, T.ArrayType):
        acc, x = f"acc{depth}", f"x{depth}"
        inner = _value_bytes(x, dt.elementType, depth + 1)
        return f"coalesce(aggregate({expr}, 0L, ({acc}, {x}) -> {acc} + {inner}), 0L)"
    if isinstance(dt, T.StructType):
        return " + ".join(
            [_value_bytes(f"{expr}.{quote_ident(f.name)}", f.dataType, depth) for f in dt.fields]
        ) or "0"
    return "8"


def _local_batch(batch: DataFrame):
    """→ (LocalRelation rebuild of ``batch``, its rows as pyarrow) when
    the batch holds at most LOCAL_BATCH_MAX_ROWS rows of at most
    ``ARROW_MERGE_MAX_BYTES // (LOCAL_BATCH_MAX_ROWS + 1)`` bytes each,
    else None with the decline counted. The bounded probe is the
    batch's one Spark job; on a persisted batch it also fills the
    cache, so a large batch pays for moving at most N+1 rows and its
    later readers hit the cache. A row over the byte cap ships nulls
    and a flag instead of its values, so the probe moves at most about
    ARROW_MERGE_MAX_BYTES (the most the Arrow merge takes) whatever the
    record size."""
    if not _arrow_carries(batch.schema):
        _local_skip("schema")
        return None
    row_cap = ARROW_MERGE_MAX_BYTES // (LOCAL_BATCH_MAX_ROWS + 1)
    size = " + ".join(
        _value_bytes(quote_ident(f.name), f.dataType) for f in batch.schema.fields
    )
    over = f"({size}) > {row_cap}"
    probe = batch.selectExpr(
        over,
        *[f"if({over}, null, {quote_ident(c)}) AS {quote_ident(c)}" for c in batch.columns],
    )
    rows = probe.limit(LOCAL_BATCH_MAX_ROWS + 1).toArrow()
    if rows.num_rows > LOCAL_BATCH_MAX_ROWS:
        _local_skip("rows")
        return None
    if pc.any(rows.column(0)).as_py():
        _local_skip("bytes")
        return None
    # the flag's projection made every column nullable; restore the
    # source's nullability (no row was nulled past this point)
    rows = pa.Table.from_arrays(
        rows.columns[1:],
        schema=pa.schema(
            [
                af.with_nullable(sf.nullable)
                for af, sf in zip(list(rows.schema)[1:], batch.schema.fields)
            ]
        ),
    )
    local, skip = _arrow_frame(batch.sparkSession, rows, batch.schema)
    if local is None:
        _local_skip(skip)
        return None
    REGISTRY.inc("ingest.localBatch")
    return local, rows


def _arrow_carries(schema: T.StructType) -> bool:
    """False for a schema the Arrow round trip cannot carry: a type
    with no Arrow mapping, or a map (createDataFrame from Arrow reads a
    null map<_, array<_>> as {})."""
    try:
        to_arrow_schema(schema)
    except TypeError:
        return False
    return not _has_map(schema)


def _arrow_frame(spark: SparkSession, tbl: pa.Table, schema: T.StructType):
    """→ (Arrow-backed LocalRelation of ``tbl`` under ``schema``, None),
    or (None, reason) when the rebuild is not that: ``schema`` (the JVM
    reads back another schema) or ``not_local``."""
    local = spark.createDataFrame(tbl, schema=schema)
    # the Python frame echoes the requested schema; ask the JVM
    if T.StructType.fromJson(json.loads(local._jdf.schema().json())) != schema:
        return None, "schema"
    if not is_local_plan(local):
        return None, "not_local"
    return local, None


def _arrow_skip(reason: str) -> None:
    REGISTRY.inc(f"ingest.arrowSkip.{reason}")


def _decoded_arrow(decoded: DataFrame, folded: bool, manifest):
    """``decoded`` evaluated once on the driver as a pyarrow Table, or
    None. A folded decode costs no job. ``manifest`` is given when the
    table takes the Arrow merge, which would collect these rows anyway:
    then a decode that did not fold is collected by one job, bounded
    like the merge's own collect (:func:`arrow_merge_over_cap`, on the
    optimizer's estimate before the job and on the rows after), and a
    folded one whose types the zero-job read cannot map by one job too.
    A decline there is counted as ``ingest.arrowSkip.<reason>``."""
    if manifest is None:
        if folded and _arrow_carries(decoded.schema):
            return local_plan_arrow(decoded)
        return None
    if not _arrow_carries(decoded.schema):
        return _arrow_skip("schema")
    if not folded and arrow_merge_over_cap(manifest, known_size(decoded)):
        return _arrow_skip("size_cap")
    tbl = _eval_arrow(decoded, "ingest.arrowEval")
    if not folded and arrow_merge_over_cap(manifest, tbl.nbytes):
        return _arrow_skip("size_cap")
    return tbl


def _arrow_groups(dt: T.DataType) -> bool:
    """True for key types Arrow groups as the dedup window does. Float
    keys (NaN and -0.0 group differently in Arrow and Spark), collated
    strings, and arrays, structs and maps (Arrow cannot group them)
    keep the window."""
    return dt == T.StringType() or isinstance(
        dt,
        (
            T.IntegralType, T.BinaryType, T.BooleanType, T.DateType,
            T.TimestampType, T.TimestampNTZType, T.DecimalType,
        ),
    )


def _last_wins(tbl: pa.Table, keys: list[str], order_col: str) -> pa.Table:
    """:func:`_dedup_last_wins` on the driver: per ``keys`` value (NULL
    keys group together, as in the window) the row with the largest
    ``order_col`` (NULL lowest; a tie goes to the later row), in
    arrival order."""
    order = pc.sort_indices(
        tbl, sort_keys=[(order_col, "ascending")], null_placement="at_start"
    )
    ranked = tbl.select(keys).take(order)
    ranked = ranked.append_column("__pos", pa.array(np.arange(tbl.num_rows)))
    wins = ranked.group_by(keys).aggregate([("__pos", "max")])
    if wins.num_rows == tbl.num_rows:
        return tbl
    rows = order.to_numpy()[wins.column("__pos_max").to_numpy()]
    return tbl.take(pa.array(np.sort(rows)))


def _split_arrow(spark, tbl: pa.Table, schema: T.StructType, note, id_columns):
    """The DLQ split and the offset dedup on ``tbl``, the decoded part
    on the driver → (good, bad) as Arrow-backed frames, ``bad`` None
    when no row failed to decode; or None when the good rows' round
    trip is not a LocalRelation (counted as ``ingest.arrowSkip.<reason>``;
    the caller splits on Spark)."""
    bad = None
    if CORRUPT_COL in tbl.column_names:
        failed = pc.is_valid(tbl.column(CORRUPT_COL))
        if pc.any(failed).as_py():
            rows, skip = _arrow_frame(
                spark,
                tbl.filter(failed).select([CORRUPT_COL]),
                T.StructType([schema[CORRUPT_COL]]),
            )
            if rows is None:
                return _arrow_skip(skip)
            bad = dlq_rows(rows, note)
        tbl = tbl.filter(pc.invert(failed)).drop_columns([CORRUPT_COL])
        schema = T.StructType([f for f in schema.fields if f.name != CORRUPT_COL])
    window = False
    if "offset" in tbl.column_names and id_columns:
        names = set(schema.fieldNames())
        if all(k in names and _arrow_groups(schema[k].dataType) for k in id_columns):
            tbl = _last_wins(tbl, id_columns, "offset")
        else:
            window = True
    good, skip = _arrow_frame(spark, tbl, schema)
    if good is None:
        return _arrow_skip(skip)
    if window:
        good = _dedup_last_wins(good, id_columns, "offset")
    return good, bad


def _split_spark(decoded: DataFrame, note, id_columns, folded: bool, cached: list):
    """The DLQ split and the offset dedup as Spark plans → (good, bad),
    ``bad`` None for a format that routes no row to the DLQ. A decode
    that did not fold is persisted (appended to ``cached``, which the
    caller releases): the split reads it twice, and the good and bad
    sides feed the write, the constraint split and the DLQ append."""
    if not folded:
        decoded = decoded.persist()
        cached.append(decoded)
    good, bad = (
        split_dlq(decoded, error_note=note)
        if CORRUPT_COL in decoded.columns
        else (decoded, None)
    )
    if "offset" in good.columns and id_columns:
        # offset orders last-write-wins dedup within the batch (SURVEY
        # risk #2); it is a transport column, dropped after routing
        good = _dedup_last_wins(good, id_columns, "offset")
    if not folded:
        good = good.persist()
        cached.append(good)
        if bad is not None:
            bad = bad.persist()
            cached.append(bad)
    return good, bad


class IngestPipeline:
    """foreachBatch sink writing decoded records into lake tables."""

    def __init__(self, catalog: LakeCatalog, config: IngestConfig, registry=None):
        self.catalog = catalog
        self.config = config
        # SchemaRegistryClient for tables with format='avro_registry'
        # (the worker-level value.converter.schema.registry.url analogue)
        self.registry = registry

    # -- batch entry point (also usable for non-streaming backfills) --

    def process_batch(self, batch: DataFrame, epoch_id: int = -1) -> None:
        """One micro-batch of kafka-shaped rows (topic/value/offset…).
        Topic slices are grouped by TARGET table first: N topics mapped
        onto one table land as ONE group commit (write_many) instead of
        N sequential merges — the reference consolidates cross-topic
        batches per table the same way (BatchConsolidation).

        Small batches run as one Spark job: a bounded probe collects at
        most ``LOCAL_BATCH_MAX_ROWS + 1`` rows, each capped in bytes, and
        a batch that fits is rebuilt as a LocalRelation. Decode and topic
        filters then fold into driver-side local data
        (``ingest.localBatch``). A batch over the gate, a row over the
        byte cap, a schema the Arrow round trip changes, or a rebuild
        that is not a LocalRelation keep the distributed path
        (``ingest.localSkip.<reason>``). Either way each decoded part is
        evaluated at most once (see the module docstring)."""
        # r14 (guide §5 cache only what's reused): the incoming frame is
        # consumed by the probe, the topic scan AND each topic slice's
        # decode — an expensive source (a decoder/synthesizer upstream)
        # would otherwise re-execute per consumer. Micro-batches are
        # threshold-bounded (E1), so one persist for the duration of the
        # batch is safe; released in the finally.
        persisted = False
        try:
            if batch.storageLevel.useMemory or batch.storageLevel.useDisk:
                pass  # caller already persists; leave their lifecycle alone
            else:
                batch = batch.persist()
                persisted = True
            local = _local_batch(batch)
            if local is not None:
                if persisted:
                    batch.unpersist()
                    persisted = False
                batch, rows = local
                topics = (
                    pc.unique(rows.column("topic")).to_pylist()
                    if "topic" in batch.columns
                    else [None]
                )
            elif "topic" in batch.columns:
                topics = [
                    r[0] for r in batch.select("topic").distinct().collect()
                ]
            else:
                topics = [None]
            by_table: dict[str, list] = {}
            for topic in topics:
                part = (
                    batch.filter(F.col("topic") == topic) if topic else batch
                )
                table = self.config.table_for(topic) if topic else "events"
                by_table.setdefault(table, []).append(part)
            for table, parts in by_table.items():
                self._ingest_table_batches(parts, table, epoch_id=epoch_id)
        finally:
            if persisted:
                batch.unpersist()

    def _ingest_table_batches(
        self, parts: list, table: str, epoch_id: int = -1
    ) -> None:
        spec = self.config.spec_for(table)
        writer = LakeWriter(
            self.catalog.table(table),
            pk=spec.id_columns,
            partition_by=spec.partition_by,
            auto_create=spec.auto_create,
            # 'off' disables write-path auto-compaction for this table
            auto_compact=spec.inlining_rows is not None,
            max_retry_count=self.config.max_retry_count,
            merge_mode=spec.merge_mode,
        )
        # the write's one manifest resolve: it picks the split below and
        # the writer plans against it
        manifest = writer.table.manifest() if writer.table.exists() else None
        arrow_merge = (
            bool(spec.id_columns)
            and manifest is not None
            and writer.arrow_merge_skip(manifest) is None
        )
        goods: list[DataFrame] = []
        bads: list = []  # per part: its DLQ frame, or None
        cached: list[DataFrame] = []
        dlq_rows_known = False  # some part's DLQ frame surely holds rows
        for part in parts:
            keep = [c for c in ("offset",) if c in part.columns]
            decoded, note = self._decode(part, spec, keep)
            # a decode that folded to local data evaluates driver-side
            # for free; one for a table taking the Arrow merge is
            # evaluated once here, where the merge would collect it
            folded = is_local_plan(decoded)
            tbl = _decoded_arrow(decoded, folded, manifest if arrow_merge else None)
            split = (
                _split_arrow(
                    decoded.sparkSession, tbl, decoded.schema, note, spec.id_columns
                )
                if tbl is not None
                else None
            )
            if split is None:
                good, bad = _split_spark(decoded, note, spec.id_columns, folded, cached)
            else:
                good, bad = split
                dlq_rows_known |= bad is not None
            if spec.check_constraints:
                good, bad = self._route_constraint_violations(good, bad, spec)
            if spec.transform is not None:
                good = spec.transform(good)
            goods.append(good.drop(*keep) if keep else good)
            bads.append(bad)
        # idempotent epoch commit (E8 exactly-once upgrade): a replayed
        # foreachBatch epoch whose commit already landed is skipped at
        # the manifest-marker check — APPEND tables stop duplicating on
        # restart, MERGE tables stop paying a no-op replay write
        txn = (f"ingest:{table}", epoch_id) if epoch_id >= 0 else None
        try:
            try:
                writer.write_many(goods, txn=txn, manifest=manifest)
            except ReconcileError:
                # group write hit a schema conflict — replay batch-at-a-
                # time so only the offending slices DLQ, not the whole
                # group
                for i, good in enumerate(goods):
                    try:
                        writer.write(good)
                    except ReconcileError as e:
                        # whole-batch schema conflict → route every row
                        # to the DLQ; the note carries the column, both
                        # types, and sample values from the offending
                        # batch (SinkRecordToArrowConverter.java:305-385
                        # parity)
                        from ..schema.reconcile import (
                            enriched_reconcile_message,
                        )

                        note = enriched_reconcile_message(e, good)
                        rejected = good.select(
                            F.to_json(F.struct(*good.columns)).alias("raw_value"),
                            F.lit(f"reconcile_error: {note}").alias("error"),
                            F.current_timestamp().alias("_dlq_at"),
                        )
                        bads[i] = (
                            rejected
                            if bads[i] is None
                            else bads[i].unionByName(rejected, allowMissingColumns=True)
                        )
            present = [b for b in bads if b is not None]
            if not present:
                return
            bad = present[0]
            for b in present[1:]:
                bad = bad.unionByName(b, allowMissingColumns=True)
            if not dlq_rows_known and bad.isEmpty():
                return
            dlq_writer = LakeWriter(
                self.catalog.table(f"{table}{self.config.dlq_suffix}"),
                pk=[],
                auto_create=True,
            )
            dlq_writer.append(
                bad,
                txn=(f"ingest_dlq:{table}", epoch_id) if epoch_id >= 0 else None,
            )
        finally:
            for c in cached:
                c.unpersist()

    def _route_constraint_violations(
        self, good: DataFrame, bad: DataFrame, spec: TableSpec
    ):
        """Row-level CHECK constraint routing: rows whose predicate
        evaluates FALSE move to the DLQ with the violated constraint
        names; NULL/UNKNOWN passes (standard SQL CHECK / Delta Lake
        semantics — only rows that provably break the constraint are
        rejected, matching LakeWriter._enforce_constraints). One
        codegen'd filter pass each way — no extra job. ``bad`` may be
        None (no DLQ rows yet)."""
        fails = {
            name: ~F.coalesce(F.expr(pred), F.lit(True))
            for name, pred in spec.check_constraints.items()
        }
        any_fail = None
        for c in fails.values():
            any_fail = c if any_fail is None else (any_fail | c)
        which = F.concat_ws(
            ",", *[F.when(c, F.lit(n)) for n, c in fails.items()]
        )
        viol = good.filter(any_fail).select(
            F.to_json(F.struct(*good.columns)).alias("raw_value"),
            F.concat(F.lit("check_constraint: "), which).alias("error"),
            F.current_timestamp().alias("_dlq_at"),
        )
        return (
            good.filter(~any_fail),
            viol if bad is None else bad.unionByName(viol, allowMissingColumns=True),
        )

    def _decode(self, part: DataFrame, spec: TableSpec, keep: list[str]):
        """Per-table format dispatch (the reference's value.converter
        choice: JsonConverter / AvroConverter / ArrowIpcConverter, plus
        the mixed per-batch sniff of A7) → (decoded, note): the decoded
        frame, whose ``_corrupt`` column marks the rows bound for the DLQ
        (absent when the format routes no row there), and the DLQ error
        note for them (None: the generic one)."""
        if spec.format == "json":
            from ..sources.json_decode import conflict_note

            if dict(part.dtypes).get("value") == "binary":
                # kafka-shaped value is bytes; JSON decode wants text
                part = part.withColumn("value", F.col("value").cast("string"))
            conflicts: dict = {}
            decoded = decode_json(
                part, value_col="value", keep_cols=keep, conflicts_out=conflicts
            )
            return decoded, conflict_note(conflicts)
        if spec.format == "avro_registry":
            from ..sources.schema_registry import decode_avro_registry

            if self.registry is None:
                raise ValueError(
                    "format='avro_registry' requires IngestPipeline(registry=...)"
                )
            return decode_avro_registry(
                part, self.registry, value_col="value", keep_cols=keep
            ), None
        if spec.format == "avro":
            # auto-selects the JVM from_avro fast path when the
            # spark-avro jar is present; pure-Python fallback otherwise
            from ..sources.avro_decode import decode_avro_auto

            return decode_avro_auto(
                part,
                spec.avro_schema,
                confluent_framing=spec.confluent_framing,
                keep_cols=keep,
                with_corrupt_col=True,
            ), None
        if spec.format == "csv":
            from ..sources.csv_decode import decode_csv

            return decode_csv(
                part,
                spec.csv_schema,
                keep_cols=keep,
                options=spec.csv_options,
            ), None
        if spec.format == "proto":
            from ..sources.proto_lite import decode_proto_lite

            return decode_proto_lite(
                part,
                spec.proto_schema,
                keep_cols=keep,
                with_corrupt_col=True,
                confluent_framing=spec.confluent_framing,
            ), None
        if spec.format == "arrow":
            from ..sources.arrow_ipc import decode_arrow_ipc

            # IPC payloads explode to many rows; transport columns do
            # not map 1:1 → no offset carry, no per-row DLQ (a corrupt
            # stream fails the batch, like the reference's converter)
            return decode_arrow_ipc(part.filter(F.col("value").isNotNull()), "value"), None
        from ..sources.mixed_format import decode_mixed

        return decode_mixed(part, value_col="value"), None

    # -- DLQ reprocessing (operational replay loop) --

    def reprocess_dlq(self, table: str) -> dict:
        """Replay ``<table>_dlq`` through decode → constraint routing →
        write, landing rows that now succeed and atomically swapping the
        processed DLQ snapshot for the residual failures.

        The reference's operational loop is "fix the schema/config, then
        replay the DLQ topic through the connector"
        (`EndToEndIntegrationTest.java` recovery story); with the DLQ as
        a lake table the replay is a batch job over it. All DLQ
        ``raw_value`` payloads are JSON text by construction — corrupt
        source rows keep their original JSON, and constraint/reconcile
        rejects are stored as ``to_json(struct(...))`` — so reprocessing
        always decodes JSON, then applies the table's CURRENT spec
        (constraints, pk, partitioning). Rows that fail again (still
        corrupt, still conflicting) stay in the DLQ with a fresh error.

        Exactly-once across crashes: the main-table write carries
        ``txn=("dlq_reprocess:<t>", dlq_version)`` — a crash between the
        write and the DLQ swap re-runs safely (the replayed write is
        skipped at the marker, then the swap completes). The swap itself
        is ONE manifest commit that drops exactly the processed
        snapshot's files and adds the residual file, so DLQ rows
        appended concurrently (files newer than the snapshot) are
        untouched and a crash can never lose residuals to a
        delete-then-append window."""
        from ..metrics import REGISTRY
        from ..sources.json_decode import conflict_note

        with REGISTRY.timer("dlqReprocess"):
            return self._reprocess_dlq(table, conflict_note)

    def _reprocess_dlq(self, table: str, conflict_note) -> dict:
        dlq_t = self.catalog.table(f"{table}{self.config.dlq_suffix}")
        out = {"attempted": 0, "landed": 0, "residual": 0}
        if not dlq_t.exists():
            return out
        snap = dlq_t.manifest()
        rows = dlq_t.read(version=snap.version)
        if "raw_value" not in rows.columns:
            return {**out, "error": "DLQ table has no raw_value column"}
        # metadata-only count: the DLQ is append-only (no MOR state), so
        # the manifest's per-file row stats answer without a scan job
        attempted = dlq_t.row_count(snap.version)
        if attempted == 0:
            return out
        spec = self.config.spec_for(table)
        conflicts: dict = {}
        decoded = decode_json(
            rows.select(F.col("raw_value").alias("value")),
            value_col="value",
            conflicts_out=conflicts,
        ).persist()  # consumed by isEmpty + write + residual count/write:
        # one decode pass, not four (released in the finally below)
        try:
            good, bad = split_dlq(decoded, error_note=conflict_note(conflicts))
            # constraint/reconcile DLQ rows serialize the transport
            # `offset` into raw_value (it is dropped only after routing
            # on first ingest), so the replay re-runs the offset-ordered
            # last-write-wins dedup and then drops it — same contract as
            # process_batch: deterministic winners, no transport column
            # in the table schema
            if "offset" in good.columns:
                if spec.id_columns:
                    good = _dedup_last_wins(good, spec.id_columns, "offset")
                good = good.drop("offset")
            if spec.check_constraints:
                good, bad = self._route_constraint_violations(good, bad, spec)
            writer = LakeWriter(
                self.catalog.table(table),
                pk=spec.id_columns,
                partition_by=spec.partition_by,
                auto_create=spec.auto_create,
                auto_compact=spec.inlining_rows is not None,
                max_retry_count=self.config.max_retry_count,
                merge_mode=spec.merge_mode,
            )
            if not good.isEmpty():
                try:
                    writer.write(
                        good, txn=(f"dlq_reprocess:{table}", snap.version)
                    )
                except ReconcileError as e:
                    # schema still conflicts: the batch stays in the DLQ
                    # with the enriched note (same contract as first
                    # ingest)
                    from ..schema.reconcile import enriched_reconcile_message

                    note = enriched_reconcile_message(e, good)
                    bad = bad.unionByName(
                        good.select(
                            F.to_json(F.struct(*good.columns)).alias("raw_value"),
                            F.lit(f"reconcile_error: {note}").alias("error"),
                            F.current_timestamp().alias("_dlq_at"),
                        ),
                        allowMissingColumns=True,
                    )
            residual = bad.count()
            with dlq_t.lock():
                latest = dlq_t.manifest()
                drop = set(snap.all_files()) & set(latest.all_files())
                new_files: dict = {}
                new_stats: dict = {}
                if residual:
                    dlq_writer = LakeWriter(dlq_t, pk=[], auto_create=True)
                    prepared = dlq_writer._prepare_insert(bad, latest)
                    new_files, new_stats = dlq_t.write_data_files(
                        # rebalance: the residual is usually a sliver —
                        # 'natural' emitted one near-empty file per
                        # upstream partition of the decode pipeline
                        prepared, latest.version + 1, layout="rebalance",
                        manifest=latest,
                    )
                dlq_t._commit(
                    latest.successor(
                        "DLQ_REPROCESS",
                        **latest.replace_files(drop, new_files, new_stats),
                    ),
                    parent_manifest=latest,
                )
        finally:
            decoded.unpersist()
        return {
            "attempted": attempted,
            "landed": attempted - residual,
            "residual": residual,
            "dlq_version": latest.version + 1,
        }

    # -- streaming wiring --

    def start(
        self,
        stream: DataFrame,
        checkpoint_dir: str,
        trigger_seconds: int = 60,
        query_name: str = "ducklake_ingest",
    ):
        """Attach foreachBatch and start the query (E1: the trigger is
        the flush clock; maxOffsetsPerTrigger on the source bounds batch
        size)."""
        return (
            stream.writeStream.foreachBatch(self.process_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(processingTime=f"{trigger_seconds} seconds")
            .queryName(query_name)
            .start()
        )
