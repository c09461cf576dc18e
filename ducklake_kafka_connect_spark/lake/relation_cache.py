"""Per-session memo of schema'd parquet relations (driver-side only).

Every ``spark.read.schema(s).parquet(*files)`` costs ~30-40 ms of JVM
driver work (DataSource resolution + file status), and an empty
``createDataFrame([], schema)`` ~50 ms — the lake layer builds these
relations on every read/changes/merge over file lists that are
IMMUTABLE by construction (data files are uuid-named and never
rewritten in place; a logical rewrite commits NEW file names). Memoize
the UNRESOLVED DataFrame per (session, schema, path tuple): only the
logical plan is reused — every action still scans parquet, nothing is
persisted, ``clearCache`` is unaffected. This is the same contract a
catalog table gives (resolve the relation once, not per statement);
``plans/queries.py::_t`` applies the identical idea to the bench's
source tables, validated there by (mtime, size) because those paths
are externally owned — lake files need no validation beyond existence
(vacuum DELETES files; a hit re-checks cheaply so a vacuumed span
surfaces the same analysis-time error a fresh build would).

Bounded LRU so long-lived sessions over many snapshots cannot grow the
driver without bound.
"""

from __future__ import annotations

import os
from collections import OrderedDict
from weakref import WeakKeyDictionary

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..metrics import REGISTRY

_MAX_ENTRIES = 512

_CACHE: "WeakKeyDictionary[SparkSession, OrderedDict]" = WeakKeyDictionary()


def _session_cache(spark: SparkSession) -> OrderedDict:
    c = _CACHE.get(spark)
    if c is None:
        c = OrderedDict()
        _CACHE[spark] = c
    return c


def schema_relation(
    spark: SparkSession, schema: T.StructType, paths: "tuple[str, ...] | list[str]"
) -> DataFrame:
    """``spark.read.schema(schema).parquet(*paths)`` with a per-session
    logical-plan memo. ``paths`` must be absolute file paths from a lake
    manifest (immutable objects)."""
    paths = tuple(paths)
    if not paths:
        return empty_relation(spark, schema)
    cache = _session_cache(spark)
    key = ("rel", schema.json(), paths)
    hit = cache.get(key)
    if hit is not None:
        # vacuum deletes files: re-check existence so a stale span fails
        # at the same (analysis) point a fresh build would
        if all(os.path.exists(p) for p in paths):
            cache.move_to_end(key)
            return hit
        del cache[key]
    df = spark.read.schema(schema).parquet(*paths)
    cache[key] = df
    if len(cache) > _MAX_ENTRIES:
        cache.popitem(last=False)
    return df


def _fallback(reason: str) -> None:
    REGISTRY.inc(f"localPlan.fallback.{reason}")


# Types whose collect()-value → pyarrow mapping is pinned by
# tests/test_arrow_checks.py (incl. a non-UTC driver TZ run). Anything
# else — nested rows, maps, intervals, arrays of timestamps — takes the
# plain Spark path.
_LOCAL_ARROW_SIMPLE = (
    T.LongType, T.IntegerType, T.ShortType, T.ByteType, T.DoubleType,
    T.FloatType, T.StringType, T.BooleanType, T.BinaryType, T.DateType,
    T.DecimalType,
)


def _arrow_mappable(st: T.StructType) -> bool:
    for f in st.fields:
        t = f.dataType
        if isinstance(t, T.ArrayType):
            if not isinstance(t.elementType, _LOCAL_ARROW_SIMPLE):
                return False
        elif not isinstance(
            t, _LOCAL_ARROW_SIMPLE + (T.TimestampType, T.TimestampNTZType)
        ):
            return False
    return True


def _utc(vals: list, collected: bool) -> list:
    """Naive datetimes are driver-local wall clock (the TimestampType
    contract of both createDataFrame and collect()); pyarrow would read
    them as UTC, so anchor them first. ``collected`` values come from
    collect()'s ``fromInternal``, which marks the repeated DST hour's
    second pass with ``fold``; ``astimezone`` honours it. Rows bound for
    createDataFrame parity go through ``TimestampType.toInternal``
    (``time.mktime``), exactly as createDataFrame does, DST gap and
    repeated hours included."""
    import datetime as _dt

    if not collected:
        ts = T.TimestampType()
        return [ts.toInternal(v) for v in vals]
    return [
        v.astimezone(_dt.timezone.utc)
        if v is not None and v.tzinfo is None
        else v
        for v in vals
    ]


def _to_arrow(st: T.StructType, rows: list, collected: bool = False):
    """Row tuples → pyarrow Table under the session's Arrow mapping of
    ``st`` (nullability kept)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    asch = to_arrow_schema(st)  # timestamps as UTC, like toArrow()
    cols = list(zip(*rows)) if rows else [() for _ in st.fields]
    arrays = [
        pa.array(
            _utc(list(c), collected)
            if isinstance(sf.dataType, T.TimestampType)
            else list(c),
            type=af.type,
        )
        for af, sf, c in zip(asch, st.fields, cols)
    ]
    return pa.Table.from_arrays(arrays, schema=asch)


def local_rows_df(spark: SparkSession, rows, schema) -> DataFrame:
    """``spark.createDataFrame(rows, schema)`` for driver-local rows
    that builds an Arrow-backed LocalRelation instead of parallelizing
    an RDD: collecting a 1-row status frame costs ~310 ms through the
    RDD path but ~35 ms through Arrow, and the lake SQL surface returns
    such frames from every DDL/DML statement. Result-identical: rows
    that are not tuples, types outside the pinned Arrow mapping, values
    Arrow cannot convert, or a schema the round trip changes take the
    plain path, each counted as ``localPlan.fallback.<reason>``; any
    other error propagates."""
    import pyarrow as pa

    st = T._parse_datatype_string(schema) if isinstance(schema, str) else schema
    rows = list(rows)
    if not isinstance(st, T.StructType) or not _arrow_mappable(st):
        _fallback("type")
        return spark.createDataFrame(rows, schema)
    if not all(
        isinstance(r, (tuple, list)) and len(r) == len(st.fields) for r in rows
    ):
        _fallback("rows")
        return spark.createDataFrame(rows, schema)
    try:
        tbl = _to_arrow(st, rows)
    except (pa.ArrowInvalid, pa.ArrowTypeError, OverflowError):
        tbl = None
    if tbl is None or any(
        not af.nullable and tbl.column(af.name).null_count for af in tbl.schema
    ):
        _fallback("values")
        return spark.createDataFrame(rows, schema)
    df = spark.createDataFrame(tbl)
    if df.schema != st:
        _fallback("schema")
        return spark.createDataFrame(rows, schema)
    return df


def is_local_plan(df: DataFrame) -> bool:
    """True when ``df``'s optimized plan folded to one LocalRelation:
    its rows sit in the driver and every action on it runs no Spark
    job. Optimizing evaluates the folded projections, so the check costs
    what one driver-side evaluation of the frame costs."""
    op = df._jdf.queryExecution().optimizedPlan()
    return op.getClass().getSimpleName() == "LocalRelation"


def local_plan_arrow(df: DataFrame):
    """Evaluate ``df`` to a pyarrow Table WITHOUT a Spark job when its
    optimized plan folded to a single LocalRelation, else return None.

    A micro-batch built from driver-local rows (the CDC trickle shape)
    plans as ``Project[literals] over LocalRelation`` and the optimizer
    collapses that to one LocalRelation node, whose ``executeCollect``
    is a driver-side array copy — measured ~10 ms vs ~85 ms + one
    scheduled job for ``toArrow()`` on the same 20-row frame. The rows
    are converted with the session's Arrow schema mapping; timestamps
    come back from collect() as driver-local naive datetimes and are
    re-anchored via astimezone(UTC), matching toArrow's UTC storage.
    A plan that is not a LocalRelation or a type outside the pinned
    mapping returns None (counted as ``localPlan.fallback.<reason>``;
    the caller falls back); any other error propagates."""
    if not is_local_plan(df):
        _fallback("not_local")
        return None
    st = df.schema
    if not _arrow_mappable(st):
        _fallback("type")
        return None
    return _to_arrow(st, df.collect(), collected=True)  # LocalTableScan: zero jobs


def empty_relation(spark: SparkSession, schema: T.StructType) -> DataFrame:
    """``spark.createDataFrame([], schema)`` memoized per session — an
    empty LocalRelation is pure logical plan, safe to share."""
    cache = _session_cache(spark)
    key = ("empty", schema.json())
    hit = cache.get(key)
    if hit is not None:
        cache.move_to_end(key)
        return hit
    df = spark.createDataFrame([], schema)
    cache[key] = df
    if len(cache) > _MAX_ENTRIES:
        cache.popitem(last=False)
    return df
