"""Schemaless JSON decode (reference operator A3 + C1/C2).

The reference parses each record with Jackson, infers a per-record
schema (ID-heuristic + ISO-8601 sniffing), unifies across the batch,
then materializes typed structs
(``connect/SinkRecordToArrowConverter.java:113-152,772-897``).

Spark shape: sample a bounded number of raw values to the driver, run
the same inference + promotion ladder (pure Python, once per batch), and
decode the full column with ``from_json`` under the unified schema —
executor-side, vectorized, no Python in the row loop. Rows that fail to
parse under the unified schema land in a ``_corrupt`` column for DLQ
routing (the reference's per-record schema-conflict triage,
``connect/DucklakeSinkTask.java:969-1097``).

Top-level timestamp-sniffed fields are parsed from strings with the
engine's ISO parser (handles compact ``±hhmm`` offsets and naive-as-UTC
like ``connect/TimestampUtils.java:64-95``); nested timestamps use
``from_json``'s default ISO parsing.
"""

from __future__ import annotations

import json
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..functions.timestamps import ISO8601_SPARK_PATTERN
from ..schema.inference import infer_record_schema
from ..schema.merge import SchemaUnificationError, unify_schemas

CORRUPT_COL = "_corrupt"
DEFAULT_SAMPLE = 1000


def infer_batch_schema(
    df: DataFrame,
    value_col: str = "value",
    sample_size: int = DEFAULT_SAMPLE,
    conflicts_out: dict | None = None,
) -> tuple[T.StructType, int]:
    """Sample raw JSON strings and infer the unified batch schema.

    Returns (schema, n_rejected_sample_records). Records whose schema
    cannot unify with the running majority are skipped (they will fail
    from_json later and be DLQ-routed) — mirroring the reference's
    DLQ triage rather than failing the whole batch. Pass a dict as
    ``conflicts_out`` to receive {field: {types, samples}} describing
    the conflicts (used to enrich DLQ error notes)."""
    sample = [
        r[0]
        for r in df.select(value_col).limit(sample_size).collect()
        if r[0] is not None
    ]
    unified: T.StructType | None = None
    rejects = 0
    for raw in sample:
        try:
            value: Any = json.loads(raw) if isinstance(raw, (str, bytes)) else raw
        except (json.JSONDecodeError, UnicodeDecodeError):
            rejects += 1
            continue
        rec_schema = infer_record_schema(value)
        if rec_schema is None:
            continue
        if unified is None:
            unified = rec_schema
            continue
        try:
            unified = unify_schemas([unified, rec_schema])
        except SchemaUnificationError as e:
            rejects += 1  # conflicting record → will be DLQ'd at parse time
            # record the offending value for DLQ error enrichment
            if conflicts_out is not None and e.field is not None:
                c = conflicts_out.setdefault(
                    e.field,
                    {"types": [t.simpleString() for t in e.types], "samples": []},
                )
                if isinstance(value, dict) and len(c["samples"]) < 5:
                    c["samples"].append(value.get(e.field))
    return unified or T.StructType([]), rejects


def _parse_schema(schema: T.StructType) -> T.StructType:
    """Schema handed to from_json: top-level timestamps read as strings
    (re-parsed with the engine's ISO rules), plus the corrupt column."""
    fields = []
    for f in schema.fields:
        if isinstance(f.dataType, T.TimestampType):
            fields.append(T.StructField(f.name, T.StringType(), True))
        else:
            fields.append(f)
    fields.append(T.StructField(CORRUPT_COL, T.StringType(), True))
    return T.StructType(fields)


def sql_string(s: str) -> str:
    """``s`` as Spark SQL text that evaluates to ``s`` under either
    setting of ``spark.sql.parser.escapedStringLiterals``: raw literals
    (no escape processing), joined by ``chr(39)`` around each quote."""
    parts = s.split("'")
    if len(parts) == 1:
        return f"r'{s}'"
    return "concat(" + ", chr(39), ".join(f"r'{p}'" for p in parts) + ")"


def quote_ident(name: str) -> str:
    """``name`` as a backquoted SQL identifier, resolved literally:
    schemaless field names may hold dots, quotes or backquotes."""
    return "`" + name.replace("`", "``") + "`"


_ISO_MATCH = sql_string(ISO8601_SPARK_PATTERN)
_COMPACT_OFFSET = sql_string(r"([+-]\d{2})(\d{2})$")


def _iso_timestamp_sql(expr: str) -> str:
    """SQL twin of ``functions.timestamps.parse_iso_timestamp``."""
    return (
        f"CASE WHEN regexp_like(trim({expr}), {_ISO_MATCH}) "
        f"THEN try_to_timestamp(regexp_replace(trim({expr}), "
        f"{_COMPACT_OFFSET}, '$1:$2')) END"
    )


def decode_json(
    df: DataFrame,
    value_col: str = "value",
    schema: T.StructType | None = None,
    sample_size: int = DEFAULT_SAMPLE,
    keep_cols: list[str] | None = None,
    conflicts_out: dict | None = None,
) -> DataFrame:
    """Decode a column of schemaless JSON into typed columns.

    Output: one column per schema field (+ any ``keep_cols`` passed
    through, e.g. kafka metadata) and ``_corrupt`` holding the raw value
    for rows that failed to parse (DLQ candidates). ``conflicts_out``
    (a dict) receives per-field conflict info from inference, for DLQ
    error enrichment.

    Both projections are SQL text (one Py4J call each): a Column per
    field costs several round trips plus call-site capture. The parsed
    struct sits in its own projection so ``from_json`` runs once per
    row however many fields read it."""
    if schema is None:
        schema, _ = infer_batch_schema(df, value_col, sample_size, conflicts_out)
    # the schema's JSON form as a raw literal; a quote inside a field
    # name travels as the JSON escape \u0027
    parse_schema = _parse_schema(schema).json().replace("'", "\\u0027")
    keep = [quote_ident(k) for k in keep_cols or []]
    parsed = df.selectExpr(
        *keep,
        f"CAST({quote_ident(value_col)} AS STRING) AS __raw",
        f"from_json(CAST({quote_ident(value_col)} AS STRING), r'{parse_schema}', "
        f"map('mode', 'PERMISSIVE', 'columnNameOfCorruptRecord', "
        f"'{CORRUPT_COL}')) AS __rec",
    )
    out = list(keep)
    for f in schema.fields:
        c = f"__rec.{quote_ident(f.name)}"
        if isinstance(f.dataType, T.TimestampType):
            c = _iso_timestamp_sql(c)
        out.append(f"{c} AS {quote_ident(f.name)}")
    # PERMISSIVE from_json accepts an empty/whitespace-only payload as an
    # all-null row with no corrupt marker; the reference's JsonConverter
    # rejects it → DLQ. NULL payloads stay untouched (Kafka tombstones
    # are not corrupt records).
    out.append(
        f"coalesce(__rec.{CORRUPT_COL}, "
        f"CASE WHEN trim(__raw) = '' THEN __raw END) AS {CORRUPT_COL}"
    )
    return parsed.selectExpr(*out)


def dlq_rows(rows: DataFrame, error_note: str | None = None) -> DataFrame:
    """DLQ rows for ``rows``' ``_corrupt`` payloads: the raw value, the
    error note (generic unless the caller passes the enriched
    schema-conflict description) and the landing time."""
    return rows.selectExpr(
        f"{CORRUPT_COL} AS raw_value",
        f"{sql_string(error_note or 'json_parse_or_schema_conflict')} AS error",
        "current_timestamp() AS _dlq_at",
    )


def split_dlq(
    decoded: DataFrame,
    value_cols: list[str] | None = None,
    error_note: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Good rows (corrupt col dropped) vs DLQ rows (:func:`dlq_rows`)."""
    good = decoded.where(f"{CORRUPT_COL} IS NULL").drop(CORRUPT_COL)
    bad = dlq_rows(decoded.where(f"{CORRUPT_COL} IS NOT NULL"), error_note)
    return good, bad


def conflict_note(conflicts: dict) -> str | None:
    """Human-readable summary of inference conflicts for the DLQ error
    column: field name, the conflicting types, and sample values."""
    if not conflicts:
        return None
    parts = [
        f"field '{f}' types={c['types']} samples={[repr(s)[:80] for s in c['samples']]}"
        for f, c in conflicts.items()
    ]
    return "schema_conflict: " + "; ".join(parts)
