"""The named query surface exposed to the driver oracle.

Each entry pairs a Spark DataFrame implementation with an equivalent
ANSI-SQL string DuckDB runs on the same parquet tables (views
``region nation customer supplier part orders lineitem events documents
embeddings``). Conventions that keep the value-hash comparison honest:

- every computed column aliased identically on both sides;
- ``events.ts`` is parquet timestamp[ns]: Spark side loads via
  ``load_parquet`` (ns→µs truncation), oracle side ``CAST(ts AS
  TIMESTAMP)`` (same truncation);
- integer SUMs cast to BIGINT in DuckDB (its SUM(int) returns HUGEINT,
  Spark returns long);
- floating-point similarity/ratio outputs rounded to 6 decimals on both
  sides;
- top-k queries carry a deterministic tie-break on a key column.

Queries tagged ``oracle=None`` are non-SQL-expressible (driver records a
rows-only check).
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import uuid
import weakref
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..functions.timestamps import parse_iso_timestamp
from ..lake import LakeCatalog, LakeWriter
from ..operators.similarity import NUM_CELLS, _lcg_hyperplanes
from ..schema.merge import unify_schemas
from ..sources.parquet_loader import load_parquet


@dataclass
class QueryDef:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    description: str


QUERIES: dict[str, QueryDef] = {}


def register(name: str, oracle: str | None, description: str):
    def deco(fn):
        QUERIES[name] = QueryDef(fn=fn, oracle=oracle, description=description)
        return fn

    return deco


# r14 (guide §5 driver work / §6 file listing): every `_t` call paid a
# fresh `spark.read.parquet` relation resolve (~30-100 ms of driver-side
# listing + footer schema inference) — ~1500 resolves per bench run for
# the same dozen immutable files. Memoize the UNRESOLVED plan per
# (session, path), validated by the file's (mtime_ns, size) so a
# rewritten fixture re-resolves. Only the logical plan is reused: every
# action still scans the parquet inputs (nothing is persisted and
# `clearCache` between queries is unaffected), which is exactly what a
# real catalog does — resolve the table once, not per statement.
_T_MEMO: "weakref.WeakKeyDictionary[SparkSession, dict]" = (
    weakref.WeakKeyDictionary()
)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        st = os.stat(path)
        token = (st.st_mtime_ns, st.st_size)
    except OSError:
        token = None
    if token is not None:
        per = _T_MEMO.setdefault(spark, {})
        hit = per.get(path)
        if hit is not None and hit[0] == token:
            return hit[1]
    df = load_parquet(spark, path)
    if token is not None:
        per[path] = (token, df)
    return df


_SCRATCH_ROOT: str | None = None


def _scratch_dir(tag: str) -> str:
    """A new path for one plan's scratch lake. Every such path lives
    under one ``ducklake_plans_*`` temp root per process, removed at
    interpreter exit, so repeat calls never leave lakes behind."""
    global _SCRATCH_ROOT
    if _SCRATCH_ROOT is None:
        _SCRATCH_ROOT = tempfile.mkdtemp(prefix="ducklake_plans_")
        atexit.register(shutil.rmtree, _SCRATCH_ROOT, True)
    return os.path.join(_SCRATCH_ROOT, f"{tag}_{uuid.uuid4().hex[:8]}")


def _fresh_catalog(spark: SparkSession, tag: str) -> LakeCatalog:
    return LakeCatalog(spark, _scratch_dir(tag))


def epoch_us_col(df: DataFrame, col: str):
    """Microseconds since epoch for a timestamp column of EITHER type.

    Parquet written with isAdjustedToUTC=false loads as TIMESTAMP_NTZ
    (Spark's inferTimestampNTZ default), which ``unix_micros`` rejects.
    NTZ is pure wall-clock, so NTZ epoch-micros is wall-clock arithmetic
    against the NTZ epoch literal — timezone-independent, matching
    DuckDB's ``epoch_us(CAST(ts AS TIMESTAMP))`` on naive timestamps
    regardless of the Spark session timezone."""
    if dict(df.dtypes).get(col) == "timestamp_ntz":
        return F.expr(
            f"timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', {col})"
        )
    return F.unix_micros(F.col(col))


# ---------------------------------------------------------------------------
# A. Query surface over ingested tables (SURVEY §2.G: free from Spark SQL,
#    declared so the oracle can verify ingested data is queryable)
# ---------------------------------------------------------------------------

Q1_CUTOFF = "2000-10-20 00:00:00"


@register(
    "q1_pricing_summary",
    f"""
    SELECT l_returnflag, l_linestatus,
           sum(l_quantity)                                        AS sum_qty,
           ROUND(sum(l_extendedprice), 2)                         AS sum_base_price,
           ROUND(sum(l_extendedprice * (1 - l_discount)), 2)      AS sum_disc_price,
           ROUND(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
           ROUND(avg(l_quantity), 6)                              AS avg_qty,
           ROUND(avg(l_extendedprice), 6)                         AS avg_price,
           ROUND(avg(l_discount), 6)                              AS avg_disc,
           count(*)                                               AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '{Q1_CUTOFF}'
    GROUP BY l_returnflag, l_linestatus
    """,
    "TPC-H Q1 pricing summary: scan + filter + hash aggregate",
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit(Q1_CUTOFF).cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc), 2).alias("sum_disc_price"),
            F.round(F.sum(disc * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "q3_shipping_priority",
    """
    SELECT o_orderkey, ROUND(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue, o_orderdate
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
    GROUP BY o_orderkey, o_orderdate
    ORDER BY revenue DESC, o_orderkey
    LIMIT 10
    """,
    "TPC-H Q3-style: selective dim filter + 3-way join + top-k by revenue",
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(
            F.broadcast(orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)),
            li.l_orderkey == orders.o_orderkey,
        )
        .groupBy("o_orderkey", "o_orderdate")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .select("o_orderkey", "revenue", "o_orderdate")
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
        .limit(10)
    )


@register(
    "q5_local_supplier_volume",
    """
    SELECT n_name, ROUND(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM customer, orders, lineitem, supplier, nation, region
    WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      AND r_name = 'ASIA'
    GROUP BY n_name
    """,
    "TPC-H Q5-style 6-way join with broadcast dims",
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    # dims are tiny → broadcast; the only shuffle is lineitem⋈orders agg
    dims = (
        supp.join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    return (
        li.join(F.broadcast(orders), li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(dims), li.l_suppkey == dims.s_suppkey)
        .join(
            F.broadcast(cust),
            (orders.o_custkey == cust.c_custkey)
            & (cust.c_nationkey == dims.s_nationkey),
        )
        .groupBy("n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
    )


@register(
    "top_k_per_group",
    """
    SELECT o_orderpriority, o_orderkey, o_totalprice, rn FROM (
      SELECT o_orderpriority, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_orderpriority
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders) t
    WHERE rn <= 3
    """,
    "Top-K per group via ranking window (common OLAP pattern)",
)
def top_k_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    w = W.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_orderpriority", "o_orderkey", "o_totalprice", "rn")
    )


@register(
    "agg_distinct_orders",
    """
    SELECT o_orderstatus,
           count(DISTINCT o_custkey) AS n_cust,
           count(*)                  AS n_orders,
           ROUND(sum(o_totalprice), 2) AS total_price
    FROM orders GROUP BY o_orderstatus
    """,
    "Distinct aggregate (two-phase partial agg under the hood)",
)
def agg_distinct_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
            F.countDistinct("o_custkey").alias("n_cust"),
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
    )


@register(
    "rollup_lineitem_qty",
    """
    SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty, count(*) AS n
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    "ROLLUP grouping sets",
)
def rollup_lineitem_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(F.sum("l_quantity").alias("sum_qty"), F.count(F.lit(1)).alias("n"))
    )


@register(
    "grouping_sets_orders",
    """
    SELECT o_orderstatus, o_orderpriority,
           count(*) AS n, ROUND(sum(o_totalprice), 2) AS total_price
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
    "Explicit GROUPING SETS (disjoint cells — neither ROLLUP nor CUBE)",
)
def grouping_sets_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders_gs")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               count(*) AS n, ROUND(sum(o_totalprice), 2) AS total_price
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


# ---------------------------------------------------------------------------
# B. Ingestion-semantics queries (the reference's derived query surface,
#    SURVEY §2.D)
# ---------------------------------------------------------------------------


@register(
    "upsert_latest_per_key",
    """
    SELECT user_id, event_id, ts, value FROM (
      SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
      FROM events) t
    WHERE rn = 1
    """,
    "Upsert-latest-per-key semantics: window dedup by PK, last write wins (D2)",
)
def upsert_latest_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "ts", "value")
    )


def merge_upsert_build(spark: SparkSession, sf_dir: str):
    """Build phase: 80% of events loaded as the base table. Returns the
    (writer, upsert batch, catalog) the query phase merges with."""
    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "event_type", "value")
    base = ev.filter(F.col("event_id") % 10 < 8)
    batch = (
        ev.filter(F.col("event_id") % 10 >= 5)
        .withColumn("value", F.col("value") + F.lit(1000.0))
        .withColumn("event_type", F.lit("updated"))
    )
    cat = _fresh_catalog(spark, "q")
    w = LakeWriter(cat.table("events_merged"), pk=["event_id"])
    w.write(base)   # create + insert
    return w, batch, cat


def merge_upsert_query(w, batch, cat) -> DataFrame:
    """Query phase: the 50%-overlap MERGE itself + snapshot read-back."""
    w.write(batch)  # MERGE upsert
    return (
        cat.table("events_merged")
        .read()
        .select("event_id", "user_id", "event_type", "value")
    )



@register(
    "merge_upsert_events",
    """
    SELECT event_id, user_id,
           CASE WHEN event_id % 10 >= 5 THEN 'updated' ELSE event_type END AS event_type,
           CASE WHEN event_id % 10 >= 5 THEN value + 1000.0 ELSE value END  AS value
    FROM events
    """,
    "Full engine MERGE: base load + overlapping upsert batch through LakeWriter (D2/D3/D6)",
)
def merge_upsert_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drives the real write path: 80% of events as the base table, then a
    50%-overlap batch with mutated payload MERGEd on event_id; reads the
    table back. Final state must equal the oracle's CASE expression.
    bench.py times merge_upsert_build / merge_upsert_query separately so
    read-path regressions aren't hidden under table-build cost."""
    return merge_upsert_query(*merge_upsert_build(spark, sf_dir))


@register(
    "sql_merge_upsert",
    """
    SELECT event_id, user_id,
           CASE WHEN event_id % 10 >= 5 THEN 'updated' ELSE event_type END AS event_type,
           CASE WHEN event_id % 10 >= 5 THEN value + 1000.0 ELSE value END  AS value
    FROM events
    """,
    "SQL MERGE INTO statement (lake/sql_merge.py): the reference's flagship "
    "statement shape (ingestor/DucklakeWriter.java:151-168) through the "
    "catalog SQL surface — partial SET exercises the general joined-"
    "projection path (unlisted columns keep target values), INSERT the "
    "name-mapped insert. Same oracle as merge_upsert_events: the two paths "
    "must agree.",
)
def sql_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "event_type", "value")
    base = ev.filter(F.col("event_id") % 10 < 8)
    batch = ev.filter(F.col("event_id") % 10 >= 5)
    cat = _fresh_catalog(spark, "q")
    LakeWriter(cat.table("events_sm"), pk=["event_id"]).write(base)
    view = f"sql_merge_batch_{uuid.uuid4().hex[:8]}"
    batch.createOrReplaceTempView(view)
    # user_id is deliberately absent from SET: matched rows must keep the
    # target value (it equals the source's — the oracle can't tell — but
    # the PLAN is the general pre-join form, not the fast path)
    cat.sql(
        f"MERGE INTO events_sm AS t USING (SELECT * FROM {view}) AS s "
        f"ON t.event_id = s.event_id "
        f"WHEN MATCHED THEN UPDATE SET event_type = 'updated', "
        f"value = s.value + 1000.0 "
        f"WHEN NOT MATCHED THEN INSERT (event_id, user_id, event_type, value) "
        f"VALUES (s.event_id, s.user_id, 'updated', s.value + 1000.0)"
    )
    spark.catalog.dropTempView(view)
    return (
        cat.table("events_sm")
        .read()
        .select("event_id", "user_id", "event_type", "value")
    )


@register(
    "sql_merge_delete_cdc",
    """
    SELECT event_id, user_id,
           CASE WHEN event_id % 10 < 5 THEN event_type
                WHEN event_id % 10 < 8 THEN 'changed'
                ELSE 'new' END AS event_type,
           CASE WHEN event_id % 10 BETWEEN 5 AND 7 THEN value + 1000.0
                ELSE value END AS value
    FROM events
    WHERE NOT (event_id % 10 >= 5 AND event_type = 'click')
    """,
    "CDC apply through SQL MERGE's full clause triad: WHEN MATCHED AND "
    "<cond> THEN DELETE (tombstone channel), WHEN MATCHED THEN UPDATE, "
    "WHEN NOT MATCHED AND <cond> THEN INSERT — first-match-wins ordering "
    "and conditional insert filtering, all in one statement "
    "(lake/sql_merge.py general path).",
)
def sql_merge_delete_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "event_type", "value")
    base = ev.filter(F.col("event_id") % 10 < 8)
    batch = ev.filter(F.col("event_id") % 10 >= 5)
    cat = _fresh_catalog(spark, "q")
    LakeWriter(cat.table("events_cdc"), pk=["event_id"]).write(base)
    view = f"sql_cdc_batch_{uuid.uuid4().hex[:8]}"
    batch.createOrReplaceTempView(view)
    cat.sql(
        f"MERGE INTO events_cdc AS t USING (SELECT * FROM {view}) AS s "
        f"ON t.event_id = s.event_id "
        f"WHEN MATCHED AND s.event_type = 'click' THEN DELETE "
        f"WHEN MATCHED THEN UPDATE SET event_type = 'changed', "
        f"value = s.value + 1000.0 "
        f"WHEN NOT MATCHED AND s.event_type <> 'click' THEN "
        f"INSERT (event_id, user_id, event_type, value) "
        f"VALUES (s.event_id, s.user_id, 'new', s.value)"
    )
    spark.catalog.dropTempView(view)
    return (
        cat.table("events_cdc")
        .read()
        .select("event_id", "user_id", "event_type", "value")
    )


@register(
    "mor_merge_upsert",
    """
    SELECT event_id, user_id,
           CASE WHEN event_id % 10 >= 5 THEN 'updated' ELSE event_type END AS event_type,
           CASE WHEN event_id % 10 >= 5 THEN value + 1000.0 ELSE value END  AS value
    FROM events
    WHERE event_id % 7 <> 0
    """,
    "Merge-on-read write path (lake/mor.py): the same 50%-overlap upsert "
    "as merge_upsert_events plus a predicate DELETE, committed as delta + "
    "PK-tombstone files under write.merge.mode=merge-on-read — NO matched "
    "file is rewritten (asserted in-query) — then read back through the "
    "tombstone visibility anti-join. Must equal the copy-on-write result.",
)
def mor_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..lake.mor import MODE_MOR, mor_state

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    base = ev.filter(F.col("event_id") % 10 < 8)
    batch = (
        ev.filter(F.col("event_id") % 10 >= 5)
        .withColumn("value", F.col("value") + F.lit(1000.0))
        .withColumn("event_type", F.lit("updated"))
    )
    cat = _fresh_catalog(spark, "q")
    t = cat.table("events_mor")
    w = LakeWriter(t, pk=["event_id"], merge_mode=MODE_MOR)
    w.write(base)
    files_before = set(t.manifest().all_files())
    w.write(batch)  # MOR merge: delta + tombstone, no rewrite
    w.delete_where("event_id % 7 = 0")  # MOR delete: tombstone only
    m = t.manifest()
    if not files_before <= set(m.all_files()):
        raise AssertionError("merge-on-read rewrote base files")
    if not mor_state(m)[1]:
        raise AssertionError("merge-on-read left no tombstone state")
    if m.props["last_op"] != "DELETE(MOR)":
        raise AssertionError(f"unexpected last_op {m.props['last_op']}")
    return t.read().select("event_id", "user_id", "event_type", "value")


@register(
    "mor_optimize_roundtrip",
    """
    SELECT event_id, user_id,
           CASE WHEN event_id % 10 >= 5 THEN 'updated' ELSE event_type END AS event_type,
           CASE WHEN event_id % 10 >= 5 THEN value + 1000.0 ELSE value END  AS value
    FROM events
    WHERE event_id % 7 <> 0
    """,
    "OPTIMIZE as the merge-on-read materialize step: after MOR upsert + "
    "delete, compaction rewrites every file with visibility applied and "
    "retires the tombstones (asserted in-query: state cleared, history "
    "shows COMPACT); the materialized table must read identically.",
)
def mor_optimize_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..lake.maintenance import compact
    from ..lake.mor import MODE_MOR, mor_state

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    base = ev.filter(F.col("event_id") % 10 < 8)
    batch = (
        ev.filter(F.col("event_id") % 10 >= 5)
        .withColumn("value", F.col("value") + F.lit(1000.0))
        .withColumn("event_type", F.lit("updated"))
    )
    cat = _fresh_catalog(spark, "q")
    t = cat.table("events_morc")
    w = LakeWriter(t, pk=["event_id"], merge_mode=MODE_MOR)
    w.write(base)
    w.write(batch)
    w.delete_where("event_id % 7 = 0")
    compact(t)  # materialize: visibility-applied rewrite
    m = t.manifest()
    if mor_state(m) != ({}, {}):
        raise AssertionError("OPTIMIZE left merge-on-read state behind")
    if m.props["last_op"] != "COMPACT":
        raise AssertionError(f"unexpected last_op {m.props['last_op']}")
    return t.read().select("event_id", "user_id", "event_type", "value")


@register(
    "sql_merge_mirror_sync",
    """
    SELECT event_id, user_id, 'synced' AS event_type,
           value + 1000.0 AS value
    FROM events WHERE event_id % 10 >= 5
    """,
    "Snapshot mirror through SQL MERGE's WHEN NOT MATCHED BY SOURCE "
    "clause (Delta 2.3+/Spark 3.4 form): upsert every source row, DELETE "
    "every target row the source no longer carries — after the statement "
    "the table IS the mapped source (lake/sql_merge.py FULL OUTER path).",
)
def sql_merge_mirror_sync(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "event_type", "value")
    base = ev.filter(F.col("event_id") % 10 < 8)
    batch = ev.filter(F.col("event_id") % 10 >= 5)
    cat = _fresh_catalog(spark, "q")
    LakeWriter(cat.table("events_mirror"), pk=["event_id"]).write(base)
    view = f"sql_mirror_batch_{uuid.uuid4().hex[:8]}"
    batch.createOrReplaceTempView(view)
    cat.sql(
        f"MERGE INTO events_mirror AS t USING (SELECT * FROM {view}) AS s "
        f"ON t.event_id = s.event_id "
        f"WHEN MATCHED THEN UPDATE SET user_id = s.user_id, "
        f"event_type = 'synced', value = s.value + 1000.0 "
        f"WHEN NOT MATCHED THEN INSERT (event_id, user_id, event_type, value) "
        f"VALUES (s.event_id, s.user_id, 'synced', s.value + 1000.0) "
        f"WHEN NOT MATCHED BY SOURCE THEN DELETE"
    )
    spark.catalog.dropTempView(view)
    return (
        cat.table("events_mirror")
        .read()
        .select("event_id", "user_id", "event_type", "value")
    )


@register(
    "sql_insert_overwrite_replace",
    """
    WITH base AS (
      SELECT event_id, event_type, CAST(floor(value * 100) AS BIGINT) AS cents
      FROM events WHERE event_id % 4 = 1
    )
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(cents * 3) AS BIGINT) AS sum_cents3
    FROM base WHERE cents >= 1000
    GROUP BY event_type ORDER BY event_type
    """,
    "INSERT OVERWRITE as ONE atomic commit (LakeWriter.overwrite): the "
    "statement's SELECT reads the table's own current snapshot, and the "
    "new version's file set is exactly the result — a reader sees old "
    "content or new, never a truncate-then-insert gap; the pre-replace "
    "version stays time-travelable.",
)
def sql_insert_overwrite_replace(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    )
    cat = _fresh_catalog(spark, "q")
    LakeWriter(cat.table("events_ow")).append(ev.filter(F.col("event_id") % 4 == 1))
    cat.sql(
        "INSERT OVERWRITE events_ow "
        "SELECT event_id, event_type, cents * 3 AS cents "
        "FROM events_ow WHERE cents >= 1000"
    )
    return cat.sql(
        "SELECT event_type, CAST(count(*) AS BIGINT) AS n_rows, "
        "CAST(sum(cents) AS BIGINT) AS sum_cents3 "
        "FROM events_ow GROUP BY event_type ORDER BY event_type"
    )


@register(
    "cdf_table_changes",
    """
    WITH upd AS (
      SELECT event_id FROM events
      WHERE event_id % 10 BETWEEN 5 AND 7 AND event_id % 4 = 1
    ),
    ins AS (
      SELECT event_id FROM events
      WHERE event_id % 10 >= 8 AND event_id % 4 = 1
    )
    SELECT 'insert' AS change_type, CAST(count(*) AS BIGINT) AS n,
           CAST(coalesce(sum(event_id), 0) AS BIGINT) AS id_sum FROM ins
    UNION ALL
    SELECT 'update', CAST(count(*) AS BIGINT),
           CAST(coalesce(sum(event_id), 0) AS BIGINT) FROM upd
    ORDER BY change_type
    """,
    "Change-data feed through the SQL TVF `table_changes('t', from)` "
    "(Delta CDF parity): rewritten onto LakeTable.changes, whose "
    "file-level diff scans only files the two versions do NOT share — "
    "the per-type counts and id checksums must equal the arithmetic "
    "reconstruction of the merge's effect.",
)
def cdf_table_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    sl = ev.filter(F.col("event_id") % 4 == 1)
    base = sl.filter(F.col("event_id") % 10 < 8)
    batch = sl.filter(F.col("event_id") % 10 >= 5).withColumn(
        "value", F.col("value") + 1000.0
    )
    cat = _fresh_catalog(spark, "q")
    w = LakeWriter(cat.table("events_cdf"), pk=["event_id"])
    w.write(base)
    v1 = cat.table("events_cdf").current_version()
    w.write(batch)  # updates %10 in 5..7, inserts %10 in 8..9
    return cat.sql(
        f"SELECT _change_type AS change_type, "
        f"CAST(count(*) AS BIGINT) AS n, "
        f"CAST(coalesce(sum(event_id), 0) AS BIGINT) AS id_sum "
        f"FROM table_changes('events_cdf', {v1}) "
        f"GROUP BY _change_type ORDER BY change_type"
    )


@register(
    "sql_merge_schema_evolution",
    """
    SELECT event_id, user_id,
           CASE WHEN event_id % 10 >= 5 THEN 'evolved' ELSE event_type END AS event_type,
           CASE WHEN event_id % 10 >= 5 THEN value + 1000.0 ELSE value END AS value,
           CASE WHEN event_id % 10 >= 5 THEN CAST(event_id % 1000 AS BIGINT)
                ELSE NULL END AS score
    FROM events
    """,
    "Schema evolution THROUGH the SQL MERGE statement (the reference "
    "evolves the target on every write, DucklakeTableManager.java:"
    "236-322): the source batch carries a brand-new `score` column; "
    "`UPDATE SET * / INSERT *` ADD-COLUMNs it (pre-existing rows "
    "null-fill) while the writer merge commits the evolved schema in "
    "the same transaction as the data.",
)
def sql_merge_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "event_type", "value")
    base = ev.filter(F.col("event_id") % 10 < 8)
    batch = ev.filter(F.col("event_id") % 10 >= 5).select(
        "event_id",
        "user_id",
        F.lit("evolved").alias("event_type"),
        (F.col("value") + 1000.0).alias("value"),
        (F.col("event_id") % 1000).cast("long").alias("score"),
    )
    cat = _fresh_catalog(spark, "q")
    LakeWriter(cat.table("events_evo"), pk=["event_id"]).write(base)
    view = f"sql_evo_batch_{uuid.uuid4().hex[:8]}"
    batch.createOrReplaceTempView(view)
    cat.sql(
        f"MERGE INTO events_evo AS t USING (SELECT * FROM {view}) AS s "
        f"ON t.event_id = s.event_id "
        f"WHEN MATCHED THEN UPDATE SET * "
        f"WHEN NOT MATCHED THEN INSERT *"
    )
    spark.catalog.dropTempView(view)
    return (
        cat.table("events_evo")
        .read()
        .select("event_id", "user_id", "event_type", "value", "score")
    )


@register(
    "sql_time_travel_select",
    """
    WITH a AS (SELECT event_id, CAST(floor(value * 100) AS BIGINT) AS cents
               FROM events WHERE event_id % 3 = 0),
         b AS (SELECT event_id, CAST(floor(value * 100) AS BIGINT) AS cents
               FROM events WHERE event_id % 3 = 1),
         ab AS (SELECT * FROM a UNION ALL SELECT * FROM b)
    SELECT 'restored' AS snap, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(cents) AS BIGINT) AS sum_cents FROM a
    UNION ALL
    SELECT 'tag2', CAST(count(*) AS BIGINT), CAST(sum(cents) AS BIGINT) FROM ab
    UNION ALL
    SELECT 'v2', CAST(count(*) AS BIGINT), CAST(sum(cents) AS BIGINT) FROM ab
    ORDER BY snap
    """,
    "SQL-dialect time travel (VERDICT r11 'What's missing #5'): one "
    "statement reads THREE snapshots of one table — `VERSION AS OF n`, "
    "`FOR TAG t`, and the post-RESTORE current state (`RESTORE TABLE "
    "... TO VERSION AS OF` as a statement) — each resolved through the "
    "catalog's table-reference rewrite onto pinned manifest versions; "
    "the oracle reconstructs every snapshot's content arithmetically.",
)
def sql_time_travel_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        "event_id", F.floor(F.col("value") * 100).cast("long").alias("cents")
    )
    cat = _fresh_catalog(spark, "q")
    w = LakeWriter(cat.table("tt_ev"), pk=["event_id"])
    for r in (0, 1, 2):  # v1 = slice a, v2 = a+b, v3 = a+b+c
        w.write(ev.filter(F.col("event_id") % 3 == r))
    cat.table("tt_ev").tag("keep2", 2)
    cat.sql("RESTORE TABLE tt_ev TO VERSION AS OF 1")  # current = slice a
    agg = "CAST(count(*) AS BIGINT) AS n_rows, CAST(sum(cents) AS BIGINT) AS sum_cents"
    return cat.sql(
        f"SELECT 'restored' AS snap, {agg} FROM tt_ev "
        f"UNION ALL SELECT 'tag2', {agg} FROM tt_ev FOR TAG keep2 "
        f"UNION ALL SELECT 'v2', {agg} FROM tt_ev VERSION AS OF 2 "
        f"ORDER BY snap"
    )


@register(
    "sql_ctas_roundtrip",
    """
    WITH base AS (
      SELECT event_type, CAST(floor(value * 100) AS BIGINT) AS cents,
             event_id % 4 AS bucket
      FROM events WHERE event_id % 2 = 0
    )
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(cents) AS BIGINT) AS sum_cents
    FROM base WHERE bucket = 2 GROUP BY event_type ORDER BY event_type
    """,
    "CTAS as a statement: CREATE TABLE ... PARTITIONED BY ... AS SELECT "
    "runs the query through the catalog's pruned-view path and lands it "
    "via the writer append (footer stats harvested), making the result "
    "a first-class lake table — read back with a partition-pruned "
    "filter through the same SQL surface.",
)
def sql_ctas_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select("event_id", "event_type", "value")
    cat = _fresh_catalog(spark, "q")
    view = f"ctas_src_{uuid.uuid4().hex[:8]}"
    ev.createOrReplaceTempView(view)
    cat.sql(
        f"CREATE TABLE ctas_t PARTITIONED BY (bucket) AS "
        f"SELECT event_type, CAST(floor(value * 100) AS BIGINT) AS cents, "
        f"event_id % 4 AS bucket FROM {view} WHERE event_id % 2 = 0"
    )
    spark.catalog.dropTempView(view)
    return cat.sql(
        "SELECT event_type, CAST(count(*) AS BIGINT) AS n_rows, "
        "CAST(sum(cents) AS BIGINT) AS sum_cents "
        "FROM ctas_t WHERE bucket = 2 GROUP BY event_type ORDER BY event_type"
    )


@register(
    "asof_latest_purchase",
    """
    WITH clicks AS (
      SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
      FROM events WHERE event_type = 'click'
    ),
    purchases AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, max(value) AS purchase_value
      FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
    )
    SELECT l.event_id, l.user_id, r.purchase_value AS purchase_value_right
    FROM clicks l
    ASOF LEFT JOIN purchases r ON l.user_id = r.user_id AND l.ts >= r.ts
    """,
    "As-of (point-in-time) join: each click stamped with the latest prior "
    "purchase per user. Spark side is the union-and-sweep plan "
    "(operators/asof.py — one shuffle, no range-join explosion); oracle is "
    "DuckDB's native ASOF JOIN.",
)
def asof_latest_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")  # deterministic: one right row per (key, ts)
        .agg(F.max("value").alias("purchase_value"))
    )
    return asof_join(
        clicks, purchases, key="user_id", left_ts="ts", right_ts="ts",
        payload=["purchase_value"],
    ).select("event_id", "user_id", "purchase_value_right")


@register(
    "asof_forward_next_purchase",
    """
    WITH clicks AS (
      SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
      FROM events WHERE event_type = 'click'
    ),
    purchases AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, max(value) AS purchase_value
      FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
    )
    SELECT l.event_id, l.user_id, r.purchase_value AS next_purchase_value
    FROM clicks l
    ASOF LEFT JOIN purchases r ON l.user_id = r.user_id AND l.ts < r.ts
    """,
    "Forward-strict as-of join (DuckDB's `l.ts < r.ts` operator): each "
    "click stamped with the user's NEXT purchase strictly after it — the "
    "look-ahead direction attribution pipelines need. Same one-shuffle "
    "union-and-sweep plan, ts axis flipped (operators/asof.py).",
)
def asof_forward_next_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")  # deterministic: one right row per (key, ts)
        .agg(F.max("value").alias("purchase_value"))
    )
    return asof_join(
        clicks, purchases, key="user_id", left_ts="ts", right_ts="ts",
        payload=["purchase_value"], direction="forward", strict=True,
    ).select(
        "event_id", "user_id",
        F.col("purchase_value_right").alias("next_purchase_value"),
    )


def _asof_catalog(spark: SparkSession, sf_dir: str, *tables: str) -> LakeCatalog:
    """A fresh lake holding the named tables of the catalog-SQL surface
    queries (``clicks``, ``purchases``, ``ev_small``), built from
    ``events``; each query builds only the tables it reads."""
    ev = _t(spark, sf_dir, "events")
    cat = _fresh_catalog(spark, "asof")
    frames = {  # table → (pk, rows); a frame costs no job until appended
        "clicks": (
            ["event_id"],
            ev.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts"),
        ),
        "purchases": (
            ["user_id", "ts"],
            ev.filter(F.col("event_type") == "purchase")
            .groupBy("user_id", "ts")
            .agg(F.max("value").alias("purchase_value")),
        ),
        "ev_small": (["event_id"], ev.select("event_id", "user_id", "event_type", "value")),
    }
    for t in tables:
        pk, rows = frames[t]
        LakeWriter(cat.table(t), pk=pk).append(rows)
    return cat


@register(
    "sql_asof_join_attribution",
    """
    WITH clicks AS (
      SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
      FROM events WHERE event_type = 'click'
    ),
    purchases AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, max(value) AS purchase_value
      FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
    )
    SELECT c.user_id, count(*) AS n_attributed,
           ROUND(sum(p.purchase_value), 6) AS sum_purchase
    FROM clicks c
    ASOF JOIN purchases p ON c.user_id = p.user_id AND c.ts >= p.ts
    GROUP BY c.user_id
    """,
    "DuckDB ASOF JOIN SQL surface through LakeCatalog.sql: the literal "
    "DuckDB statement a reference user runs today parses and executes — "
    "inner row semantics (unmatched clicks drop), WHERE-less GROUP BY "
    "over the rewritten view, alias-qualified references resolved "
    "(lake/table.py _rewrite_asof_join onto operators/asof.py).",
)
def sql_asof_join_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The oracle's FROM/ON/GROUP BY text runs verbatim in both engines;
    only the CTE heads differ (the Spark side reads the pre-built lake
    tables the CTEs describe)."""
    return _asof_catalog(spark, sf_dir, "clicks", "purchases").sql(
        """
        SELECT c.user_id, count(*) AS n_attributed,
               ROUND(sum(p.purchase_value), 6) AS sum_purchase
        FROM clicks c
        ASOF JOIN purchases p ON c.user_id = p.user_id AND c.ts >= p.ts
        GROUP BY c.user_id
        """
    )


@register(
    "sql_duckdb_function_suite",
    """
    WITH clicks AS (
      SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
      FROM events WHERE event_type = 'click'
    )
    SELECT strftime(ts, '%a') AS dow, count(*) AS n_clicks,
           CAST(sum(array_length(string_split(strftime(ts, '%Y-%m-%d'), '-')))
             AS BIGINT) AS date_parts,
           CAST(sum(CASE WHEN regexp_matches(strftime(ts, '%d/%m'), '^0')
               THEN 1 ELSE 0 END) AS BIGINT) AS first9_days
    FROM clicks GROUP BY dow
    """,
    "DuckDB scalar-function surface through LakeCatalog.sql: strftime "
    "%-formats translate to Java patterns, string_split's literal "
    "separator regex-escapes, array_length/regexp_matches rename onto "
    "Spark builtins — the SELECT text runs verbatim in both engines "
    "(lake/table.py _rewrite_duckdb_functions).",
)
def sql_duckdb_function_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _asof_catalog(spark, sf_dir, "clicks").sql(
        """
        SELECT strftime(ts, '%a') AS dow, count(*) AS n_clicks,
               CAST(sum(array_length(string_split(strftime(ts, '%Y-%m-%d'), '-')))
                 AS BIGINT) AS date_parts,
               CAST(sum(CASE WHEN regexp_matches(strftime(ts, '%d/%m'), '^0')
                   THEN 1 ELSE 0 END) AS BIGINT) AS first9_days
        FROM clicks GROUP BY dow
        """
    )


_STD_PIVOT_BODY = """
SELECT um, COALESCE(c_n, 0) AS c_n, ROUND(c_sv, 6) AS c_sv,
       COALESCE(p_n, 0) AS p_n, ROUND(p_sv, 6) AS p_sv
FROM (SELECT CAST(user_id %% 5 AS BIGINT) AS um, event_type, value
      FROM %s WHERE event_type IN ('click', 'purchase'))
PIVOT (count(*) AS n, sum(value) AS sv
       FOR event_type IN ('click' AS c, 'purchase' AS p))
"""


@register(
    "sql_std_pivot_clause",
    _STD_PIVOT_BODY % "events",
    "SQL-standard PIVOT clause (identical text both engines): "
    "relation PIVOT (aggs FOR col IN (values AS aliases)) — Spark and "
    "DuckDB both parse it natively and emit the same <alias>_<agg> "
    "column names; COALESCE aligns Spark's NULL-for-absent count with "
    "DuckDB's 0.",
)
def sql_std_pivot_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _asof_catalog(spark, sf_dir, "ev_small").sql(_STD_PIVOT_BODY % "ev_small")


@register(
    "sql_std_unpivot_clause",
    """
    WITH base AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
             CAST(count(DISTINCT event_id) AS BIGINT) AS n_distinct
      FROM events WHERE event_type = 'click' GROUP BY user_id
    )
    SELECT user_id, metric, val
    FROM base UNPIVOT (val FOR metric IN (n_events, n_distinct))
    """,
    "SQL-standard UNPIVOT clause (wide→long reshape, identical text "
    "both engines): relation UNPIVOT (value FOR name IN (cols)) — "
    "zero-shuffle Expand on the Spark side.",
)
def sql_std_unpivot_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _asof_catalog(spark, sf_dir, "clicks").sql(
        """
        WITH base AS (
          SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
                 CAST(count(DISTINCT event_id) AS BIGINT) AS n_distinct
          FROM clicks GROUP BY user_id
        )
        SELECT user_id, metric, val
        FROM base UNPIVOT (val FOR metric IN (n_events, n_distinct))
        """
    )


@register(
    "sql_attach_cross_lake",
    """
    WITH clicks AS (
      SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
      FROM events WHERE event_type = 'click'
    ),
    user_totals AS (
      SELECT user_id, ROUND(sum(value), 6) AS total_purchase
      FROM events WHERE event_type = 'purchase' GROUP BY user_id
    )
    SELECT c.user_id, count(*) AS n_clicks,
           max(s.total_purchase) AS total_purchase
    FROM clicks c JOIN user_totals s ON c.user_id = s.user_id
    GROUP BY c.user_id
    """,
    "ATTACH: a second lake's table joins into this catalog's SQL as "
    "`alias.table` (read-only snapshot) — the engine-side analogue of "
    "the reference attaching its ducklake catalog to a DuckDB "
    "connection (DucklakeConnectionFactory.java:36-95); writes through "
    "the attachment refuse (lake/table.py attach/_rewrite_attached_refs).",
)
def sql_attach_cross_lake(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = _t(spark, sf_dir, "events")
    cat = _asof_catalog(spark, sf_dir, "clicks")
    side_dir = _scratch_dir("att")
    side = LakeCatalog(spark, side_dir)
    LakeWriter(side.table("user_totals"), pk=["user_id"]).append(
        src.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.round(F.sum("value"), 6).alias("total_purchase"))
    )
    cat.sql(f"ATTACH '{side_dir}' AS stats")
    return cat.sql(
        """
        SELECT c.user_id, count(*) AS n_clicks,
               max(s.total_purchase) AS total_purchase
        FROM clicks c JOIN stats.user_totals s ON c.user_id = s.user_id
        GROUP BY c.user_id
        """
    )


@register(
    "sql_macro_expansion",
    """
    WITH clicks AS (
      SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
      FROM events WHERE event_type = 'click'
    )
    SELECT CAST(strftime(ts, '%H') AS INT) AS hour, count(*) AS n_clicks
    FROM clicks GROUP BY hour
    """,
    "DuckDB CREATE MACRO through catalog SQL: a stored parameterized "
    "snippet (itself using the strftime dialect surface) expands "
    "textually into the statement before planning — zero runtime "
    "cost, and the oracle is the hand-expanded SELECT "
    "(lake/table.py _expand_macros).",
)
def sql_macro_expansion(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = _asof_catalog(spark, sf_dir, "clicks")
    cat.sql(
        "CREATE OR REPLACE MACRO hour_bucket(ts0) AS "
        "CAST(strftime(ts0, '%H') AS INT)"
    )
    return cat.sql(
        "SELECT hour_bucket(ts) AS hour, count(*) AS n_clicks "
        "FROM clicks GROUP BY hour"
    )


@register(
    "sql_distinct_on_latest",
    """
    WITH clicks AS (
      SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
      FROM events WHERE event_type = 'click'
    )
    SELECT DISTINCT ON (user_id) user_id, event_id
    FROM clicks
    ORDER BY user_id, ts DESC, event_id
    """,
    "DuckDB/Postgres DISTINCT ON through LakeCatalog.sql (latest click "
    "per user, ties broken by event_id for a total order): rewritten "
    "onto a row_number() = 1 window filter — one shuffle on the key, "
    "identical to the hand-written idiom (lake/table.py "
    "_rewrite_distinct_on).",
)
def sql_distinct_on_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _asof_catalog(spark, sf_dir, "clicks").sql(
        """
        SELECT DISTINCT ON (user_id) user_id, event_id
        FROM clicks
        ORDER BY user_id, ts DESC, event_id
        """
    )


@register(
    "sql_update_returning",
    """
    SELECT event_id, user_id, ROUND(value * 1.1, 6) AS value
    FROM events
    WHERE event_type = 'purchase' AND user_id % 10 = 3
    """,
    "DuckDB's RETURNING tail on UPDATE through LakeCatalog.sql: the "
    "statement returns the post-assignment rows instead of a status "
    "row (pinned to the statement's snapshot version). INSERT and "
    "DELETE carry the same tail (lake/table.py dml()).",
)
def sql_update_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Builds a purchases lake table, then runs ``UPDATE ... RETURNING``
    — the returned frame must equal the oracle's projection of the
    updated rows. Each call builds its own lake, so repeat calls never
    re-apply the bump."""
    src = _t(spark, sf_dir, "events")
    ev = src.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "value"
    )
    cat = _fresh_catalog(spark, "ret")
    LakeWriter(cat.table("ev_ret"), pk=["event_id"]).append(ev)
    return cat.sql(
        "UPDATE ev_ret SET value = ROUND(value * 1.1, 6) "
        "WHERE user_id % 10 = 3 "
        "RETURNING event_id, user_id, value"
    )


# ---------------------------------------------------------------------------
# Grouping analytics: ROLLUP / CUBE / GROUPING SETS / PIVOT — the OLAP
# subtotal surface DuckDB users reach for on dashboards. All four stay
# entirely JVM-side (Expand + partial agg; one shuffle each) and scale
# as plain aggregates: Expand multiplies rows by the number of grouping
# sets BEFORE the map-side combine, so the shuffle carries one partial
# row per (set, group), not per input row.
# ---------------------------------------------------------------------------


@register(
    "rollup_returnflag_hierarchy",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag) AS BIGINT) AS g_flag,
           CAST(GROUPING(l_linestatus) AS BIGINT) AS g_status,
           count(*) AS n, ROUND(sum(l_quantity), 6) AS sum_qty
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    "ROLLUP subtotal hierarchy with GROUPING() disambiguation (a NULL "
    "group key vs a subtotal row) — Spark's Expand operator emits the "
    "3 grouping sets before the partial aggregate; one shuffle total.",
)
def rollup_returnflag_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.grouping("l_returnflag").cast("bigint").alias("g_flag"),
        F.grouping("l_linestatus").cast("bigint").alias("g_status"),
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("l_quantity"), 6).alias("sum_qty"),
    )


@register(
    "cube_order_status_priority",
    """
    SELECT o_orderstatus, o_orderpriority,
           CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
           CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_prio,
           count(*) AS n, ROUND(sum(o_totalprice), 6) AS sum_price
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    "CUBE over (status, priority): all 4 grouping sets in one pass — "
    "same Expand + single-shuffle plan as ROLLUP, just more sets.",
)
def cube_order_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.grouping("o_orderstatus").cast("bigint").alias("g_status"),
        F.grouping("o_orderpriority").cast("bigint").alias("g_prio"),
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("o_totalprice"), 6).alias("sum_price"),
    )


@register(
    "grouping_sets_event_matrix",
    """
    SELECT event_type, CAST(user_id % 7 AS BIGINT) AS user_mod,
           count(*) AS n, ROUND(sum(value), 6) AS sum_value
    FROM events
    GROUP BY GROUPING SETS ((event_type), (user_id % 7), ())
    """,
    "Explicit GROUPING SETS (per-type totals, per-user-mod totals, and "
    "a grand total in one scan) via DataFrame.groupingSets — the "
    "arbitrary-sets form ROLLUP/CUBE cannot express.",
)
def grouping_sets_event_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").withColumn(
        "user_mod", (F.col("user_id") % 7).cast("bigint")
    )
    return ev.groupingSets(
        [[F.col("event_type")], [F.col("user_mod")], []],
        F.col("event_type"),
        F.col("user_mod"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 6).alias("sum_value"),
    )


@register(
    "pivot_event_type_wide",
    """
    SELECT CAST(user_id % 10 AS BIGINT) AS user_mod,
           count(*) FILTER (WHERE event_type = 'click') AS click_n,
           count(*) FILTER (WHERE event_type = 'view') AS view_n,
           count(*) FILTER (WHERE event_type = 'purchase') AS purchase_n,
           ROUND(sum(value) FILTER (WHERE event_type = 'purchase'), 6)
             AS purchase_value
    FROM events
    GROUP BY 1
    """,
    "PIVOT (long→wide reshape) with a static value list, compiled to "
    "conditional aggregates in ONE pass — one shuffle on the group key "
    "only. Spark's groupBy().pivot() would plan TWO exchanges (an "
    "intermediate (group, pivot-value) aggregate, then the reshape); "
    "with the values known up front the FILTER-aggregate form is the "
    "strictly better 100 TB plan and what DuckDB's PIVOT compiles to.",
)
def pivot_event_type_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").withColumn(
        "user_mod", (F.col("user_id") % 10).cast("bigint")
    )

    def n_of(t):
        return F.count(F.when(F.col("event_type") == t, F.lit(1)))

    return ev.groupBy("user_mod").agg(
        n_of("click").alias("click_n"),
        n_of("view").alias("view_n"),
        n_of("purchase").alias("purchase_n"),
        F.round(
            F.sum(F.when(F.col("event_type") == "purchase", F.col("value"))), 6
        ).alias("purchase_value"),
    )


@register(
    "range_join_click_attribution",
    """
    WITH signups AS (
      SELECT event_id AS signup_id, user_id, CAST(ts AS TIMESTAMP) AS s
      FROM events WHERE event_type = 'signup'
    ),
    clicks AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value
      FROM events WHERE event_type = 'click'
    )
    SELECT signup_id, count(*) AS n_clicks, ROUND(sum(value), 6) AS sum_value
    FROM clicks c
    JOIN signups s ON c.user_id = s.user_id
                  AND c.ts BETWEEN s.s AND s.s + INTERVAL 1 DAY
    GROUP BY signup_id
    """,
    "Range (interval-containment) join via bucketization "
    "(operators/ranges.py): clicks attributed to the 24h window after "
    "each signup. Equi-join on (key, bucket) + exact filter — no "
    "theta-join nested loop.",
)
def range_join_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ranges import interval_join

    ev = _t(spark, sf_dir, "events")
    signups = ev.filter(F.col("event_type") == "signup").select(
        F.col("event_id").alias("signup_id"),
        "user_id",
        F.col("ts").alias("start"),
        (F.col("ts") + F.expr("INTERVAL 1 DAY")).alias("end"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts", "value")
    return (
        interval_join(clicks, signups, key="user_id", bucket_seconds=6 * 3600)
        .groupBy("signup_id")
        .agg(
            F.count(F.lit(1)).alias("n_clicks"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
    )


def zorder_build(spark: SparkSession, sf_dir: str):
    """Build phase: load events into a lake table and re-layout with
    Z-order compaction. Returns the catalog the query phase scans."""
    from ..lake.maintenance import compact

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "value")
    cat = _fresh_catalog(spark, "z")
    w = LakeWriter(cat.table("events_z"), pk=["event_id"])
    w.append(ev)
    compact(cat.table("events_z"), zorder_by=["user_id", "value"], target_files=8)
    return cat


def zorder_query(cat) -> DataFrame:
    """Query phase: the stat-pruned conjunctive range scan + aggregate."""
    return (
        cat.table("events_z")
        .read(where="user_id BETWEEN 100 AND 200 AND value >= 0.5")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 6).alias("sum_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )



@register(
    "zorder_pruned_scan",
    """
    SELECT count(*) AS n, ROUND(sum(value), 6) AS sum_value,
           count(DISTINCT user_id) AS n_users
    FROM events
    WHERE user_id BETWEEN 100 AND 200 AND value >= 0.5
    """,
    "Z-order compaction + multi-column footer-stat data skipping: the "
    "predicate scan opens only manifest files whose [min,max] admit a "
    "match on EITHER clustered column (lake/skipping.py)",
)
def zorder_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Writes events into a lake table, re-layouts it with
    compact(zorder_by=["user_id", "value"]), then answers a conjunctive
    range predicate through read(where=...) — manifest-level data
    skipping feeding an ordinary aggregate. Result must equal the
    oracle's direct scan of the raw parquet. bench.py times
    zorder_build / zorder_query separately."""
    return zorder_query(zorder_build(spark, sf_dir))


@register(
    "sql_pruned_point_lookup",
    """
    SELECT user_id, count(*) AS n, ROUND(sum(value), 6) AS sum_value
    FROM events
    WHERE user_id IN (5, 12) AND value >= 0.25
    GROUP BY user_id
    """,
    "SQL entry point with manifest-level file skipping: the statement's "
    "top-level WHERE conjuncts are attributed per table and each view "
    "is registered over the stat/Bloom-pruned file list "
    "(lake/sql_prune.py), so a selective SQL lookup opens the same "
    "files as read(where=) — closes the SQL-path pruning gap "
    "(VERDICT r7 #1).",
)
def sql_pruned_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Loads events into a Z-ordered lake table (the same build as
    zorder_pruned_scan), then answers a selective aggregate through
    ``LakeCatalog.sql`` — the SQL text itself is the only pruning input.
    Reference parity: the reference hands SQL to DuckDB whose optimizer
    prunes via ducklake file stats (`DucklakeTableManager.java:161-164`);
    here lake/sql_prune.py + lake/skipping.py perform that role."""
    return zorder_build(spark, sf_dir).sql(
        """
        SELECT user_id, count(*) AS n, ROUND(sum(value), 6) AS sum_value
        FROM events_z
        WHERE user_id IN (5, 12) AND value >= 0.25
        GROUP BY user_id
        """
    )


@register(
    "sql_catalog_join_pruned",
    """
    WITH users AS (
      SELECT user_id, count(*) AS n_events,
             CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
               AS sum_cents
      FROM events GROUP BY user_id
    )
    SELECT e.user_id, count(*) AS n, max(u.n_events) AS user_events,
           max(u.sum_cents) AS user_cents
    FROM events e JOIN users u ON e.user_id = u.user_id
    WHERE e.user_id BETWEEN 5 AND 12 AND e.value >= 0.5 AND u.n_events >= 2
    GROUP BY e.user_id
    """,
    "SQL entry point, join form: alias-qualified WHERE conjuncts are "
    "attributed per table and BOTH joined views register over pruned "
    "file lists (lake/sql_prune.py) — the `lake.main.` namespace the "
    "reference exposes to DuckDB also resolves.",
)
def sql_catalog_join_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A two-table join through ``LakeCatalog.sql`` using the
    reference's ``lake.main.<table>`` naming: per-alias WHERE conjunct
    attribution must prune each side's file list independently, and the
    namespace prefix must resolve to the catalog's tables
    (`DucklakeTableManager.java:161-164` parity)."""
    src = _t(spark, sf_dir, "events")
    cat = zorder_build(spark, sf_dir)
    users = src.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.floor(F.col("value") * 100).cast("long")).alias(
            "sum_cents"
        ),
    )
    LakeWriter(cat.table("users_z"), pk=["user_id"]).append(users)
    return cat.sql(
        """
        SELECT e.user_id, count(*) AS n, max(u.n_events) AS user_events,
               max(u.sum_cents) AS user_cents
        FROM lake.main.events_z e JOIN lake.main.users_z u
          ON e.user_id = u.user_id
        WHERE e.user_id BETWEEN 5 AND 12 AND e.value >= 0.5
          AND u.n_events >= 2
        GROUP BY e.user_id
        """
    )


@register(
    "partition_cells_events",
    """
    SELECT CAST(EXTRACT(year  FROM CAST(ts AS TIMESTAMP)) AS INTEGER) AS y,
           CAST(EXTRACT(month FROM CAST(ts AS TIMESTAMP)) AS INTEGER) AS m,
           CAST(EXTRACT(day   FROM CAST(ts AS TIMESTAMP)) AS INTEGER) AS d,
           count(*) AS n, ROUND(sum(value), 6) AS sum_value
    FROM events GROUP BY 1, 2, 3
    """,
    "Temporal partition expressions year()/month()/day() (B12) as grouping cells",
)
def partition_cells_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.year("ts").cast("int").alias("y"),
            F.month("ts").cast("int").alias("m"),
            F.dayofmonth("ts").cast("int").alias("d"),
        )
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 6).alias("sum_value"))
    )


@register(
    "json_extract_props",
    """
    SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k, count(*) AS n
    FROM events GROUP BY 1
    """,
    "Schemaless JSON payload extraction (A3/B9 query side)",
)
def json_extract_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.select(F.get_json_object("props", "$.k").cast("long").alias("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "nested_json_roundtrip",
    """
    SELECT event_type AS t,
           count(*) AS n,
           CAST(sum(user_id) AS BIGINT) AS sum_uid,
           ROUND(sum(value), 2) AS sum_v,
           CAST(sum(event_id % 7) AS BIGINT) AS sum_tag0,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
    FROM events GROUP BY event_type
    """,
    "Nested complex-type round-trip (B9): struct<struct, array, map> "
    "payload serialized to JSON text by the lake writer, read back, and "
    "re-extracted — aggregates must equal the oracle's direct scan, "
    "proving serialize/extract fidelity at every nesting level "
    "(SinkRecordToArrowConverterTest.java:58-219 parity).",
)
def nested_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    return nested_roundtrip_query(nested_roundtrip_build(spark, sf_dir))


def nested_roundtrip_build(spark: SparkSession, sf_dir: str) -> LakeCatalog:
    """Build side of ``nested_json_roundtrip``: serialize the nested
    payload through the lake writer (the one-time table construction;
    split out in bench.py so read-path regressions stay visible)."""
    ev = _t(spark, sf_dir, "events")
    nested = ev.select(
        "event_id",
        F.struct(
            F.col("event_type").alias("t"),
            F.struct(
                F.col("user_id").alias("uid"), F.col("value").alias("v")
            ).alias("who"),
            F.array(
                (F.col("event_id") % 7).cast("long"),
                (F.col("event_id") % 11).cast("long"),
            ).alias("tags"),
            F.create_map(
                F.lit("k"), F.get_json_object("props", "$.k").cast("long")
            ).alias("kv"),
        ).alias("payload"),
    )
    cat = _fresh_catalog(spark, "n")
    w = LakeWriter(cat.table("events_nested"), pk=["event_id"])
    w.append(nested)  # complex payload → JSON text column (B9)
    return cat


NESTED_PAYLOAD_DDL = (
    "t STRING, who STRUCT<uid: BIGINT, v: DOUBLE>, "
    "tags ARRAY<BIGINT>, kv MAP<STRING, BIGINT>"
)


def nested_roundtrip_query(cat: LakeCatalog) -> DataFrame:
    """One ``from_json`` parse per row (schema known), then field selects —
    five ``get_json_object`` calls would re-parse the same payload five
    times per row, a real constant factor on wide payloads at corpus
    scale."""
    back = cat.table("events_nested").read()
    p = F.from_json("payload", NESTED_PAYLOAD_DDL)
    return (
        back.select(
            p.alias("p"),
        )
        .select(
            F.col("p.t").alias("t"),
            F.col("p.who.uid").alias("uid"),
            F.col("p.who.v").alias("v"),
            F.col("p.tags").getItem(0).alias("tag0"),
            F.col("p.kv").getItem("k").alias("k"),
        )
        .groupBy("t")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("uid").alias("sum_uid"),
            F.round(F.sum("v"), 2).alias("sum_v"),
            F.sum("tag0").alias("sum_tag0"),
            F.sum("k").alias("sum_k"),
        )
    )


@register(
    "timestamp_parse_roundtrip",
    r"""
    SELECT count(*) AS n_total,
           CAST(sum(CASE WHEN strptime(strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%dT%H:%M:%S'),
                                       '%Y-%m-%dT%H:%M:%S')
                          = date_trunc('second', CAST(ts AS TIMESTAMP))
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_naive_roundtrip,
           CAST(sum(CASE WHEN strptime(strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%dT%H:%M:%S') || '+0000',
                                       '%Y-%m-%dT%H:%M:%S%z')
                          = date_trunc('second', CAST(ts AS TIMESTAMP))
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_compact_offset_roundtrip
    FROM events
    """,
    "ISO-8601 detection/parse matrix (B5-B7): naive-as-UTC and ±hhmm compact offsets",
)
def timestamp_parse_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    iso_naive = F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss")
    iso_compact = F.concat(iso_naive, F.lit("+0000"))
    sec = F.date_trunc("second", F.col("ts"))
    return ev.select(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(F.when(parse_iso_timestamp(iso_naive) == sec, 1).otherwise(0))
        .cast("long")
        .alias("n_naive_roundtrip"),
        F.sum(F.when(parse_iso_timestamp(iso_compact) == sec, 1).otherwise(0))
        .cast("long")
        .alias("n_compact_offset_roundtrip"),
    )


@register(
    "schema_promotion_union",
    """
    SELECT count(*) AS n, CAST(sum(v) AS BIGINT) AS total FROM (
      SELECT CAST(l_linenumber AS BIGINT) AS v FROM lineitem
      UNION ALL
      SELECT o_orderkey AS v FROM orders) t
    """,
    "Schema unification: INT32+INT64 batches promote to BIGINT (C4 ladder)",
)
def schema_promotion_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    a = _t(spark, sf_dir, "lineitem").select(F.col("l_linenumber").alias("v"))
    b = _t(spark, sf_dir, "orders").select(F.col("o_orderkey").alias("v"))
    unified = unify_schemas([a.schema, b.schema])  # drives the real promotion ladder
    a2 = a.select(*[F.col(f.name).cast(f.dataType) for f in unified.fields])
    b2 = b.select(*[F.col(f.name).cast(f.dataType) for f in unified.fields])
    return a2.unionByName(b2).agg(
        F.count(F.lit(1)).alias("n"), F.sum("v").cast("long").alias("total")
    )


# ---------------------------------------------------------------------------
# C. Analytical SQL shapes: percentiles, CUBE, semi/anti/outer joins
# ---------------------------------------------------------------------------


@register(
    "percentile_order_values",
    """
    SELECT o_orderstatus,
           ROUND(quantile_cont(o_totalprice, 0.5), 6) AS median_price,
           ROUND(quantile_cont(o_totalprice, 0.9), 6) AS p90_price,
           count(*) AS n
    FROM orders GROUP BY o_orderstatus
    """,
    "Exact interpolated percentiles per group (sort-based agg)",
)
def percentile_order_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
            F.round(F.percentile("o_totalprice", F.lit(0.5)), 6).alias("median_price"),
            F.round(F.percentile("o_totalprice", F.lit(0.9)), 6).alias("p90_price"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@register(
    "cube_returnflag_status",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(sum(l_quantity) AS DOUBLE) AS sum_qty, count(*) AS n
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    "CUBE grouping sets (all 2^k aggregation cells)",
)
def cube_returnflag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").cast("double").alias("sum_qty"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@register(
    "semi_join_priority_orders",
    """
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders
    WHERE EXISTS (
      SELECT 1 FROM lineitem
      WHERE l_orderkey = o_orderkey AND l_quantity > 45
    )
    GROUP BY o_orderpriority
    """,
    "TPC-H Q4-style EXISTS → left-semi join + aggregate",
)
def semi_join_priority_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    late = _t(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 45)
    return (
        orders.join(late, orders.o_orderkey == late.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@register(
    "anti_join_idle_customers",
    """
    SELECT c_mktsegment, count(*) AS n_customers
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_totalprice > 300000)
    GROUP BY c_mktsegment
    """,
    "NOT EXISTS → left-anti join: customers with no high-value orders, per segment",
)
def anti_join_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


@register(
    "outer_join_nation_activity",
    """
    SELECT n_name,
           CAST(count(c_custkey) AS BIGINT) AS n_customers,
           CAST(count(DISTINCT c_mktsegment) AS BIGINT) AS n_segments
    FROM nation LEFT JOIN customer ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
    "Left-outer join preserving empty dims (null-safe counts)",
)
def outer_join_nation_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = _t(spark, sf_dir, "nation")
    cust = _t(spark, sf_dir, "customer")
    return (
        nation.join(cust, cust.c_nationkey == nation.n_nationkey, "left")
        .groupBy("n_name")
        .agg(
            F.count("c_custkey").cast("long").alias("n_customers"),
            F.countDistinct("c_mktsegment").cast("long").alias("n_segments"),
        )
    )


# ---------------------------------------------------------------------------
# D. IVF-PQ index / event-time (beyond-parity, phase 5)
# ---------------------------------------------------------------------------


IVF_CENTROIDS = _lcg_hyperplanes(dim=64, n=NUM_CELLS, seed=11)


@register(
    "windowed_event_counts",
    """
    SELECT time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS window_start,
           count(*) AS n, ROUND(sum(value), 6) AS sum_value
    FROM events GROUP BY 1
    """,
    "Tumbling 1-hour event-time windows (E9 extension; streaming-ready agg)",
)
def windowed_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 6).alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "n", "sum_value")
    )


@register(
    "session_windows",
    """
    WITH marked AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
             CASE WHEN CAST(ts AS TIMESTAMP)
                       - lag(CAST(ts AS TIMESTAMP))
                         OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL '6 hours'
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ),
    sessions AS (
      SELECT user_id, ts,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS session_no
      FROM marked
    )
    SELECT user_id,
           CAST(count(DISTINCT session_no) AS BIGINT) AS n_sessions,
           count(*) AS n_events
    FROM sessions GROUP BY user_id
    """,
    "Session windows (6h gap) per user — session_window() in Spark vs gaps-and-islands oracle",
)
def session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "6 hours").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .groupBy("user_id")
        .agg(
            F.countDistinct("w.start").cast("long").alias("n_sessions"),
            F.sum("n_events").alias("n_events"),
        )
    )


@register(
    "q6_forecast_revenue",
    """
    SELECT ROUND(SUM(l_extendedprice * l_discount), 2) AS revenue,
           count(*) AS n_lines
    FROM lineitem
    WHERE CAST(l_shipdate AS TIMESTAMP) >= TIMESTAMP '1996-01-01'
      AND CAST(l_shipdate AS TIMESTAMP) < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    "TPC-H Q6 forecasting-revenue change: tight multi-conjunct filter + "
    "single agg — the canonical predicate-pushdown/column-prune showcase",
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        ).agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "q17_small_qty_revenue",
    """
    WITH pq AS (
      SELECT l_partkey, 0.5 * avg(l_quantity) AS qty_thresh
      FROM lineitem GROUP BY l_partkey
    )
    SELECT ROUND(SUM(l_extendedprice) / 7.0, 2) AS avg_yearly,
           count(*) AS n_lines
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    JOIN pq USING (l_partkey)
    WHERE p_brand IN ('Brand#12', 'Brand#23') AND l_quantity < qty_thresh
    """,
    "TPC-H Q17 small-quantity revenue: correlated per-part average "
    "threshold, decorrelated into a pre-aggregation join",
)
def q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the brand dimension broadcast-semi-joins lineitem
    FIRST, so the per-part average aggregates only the ~2/25 of rows
    whose part survives (every lineitem of a surviving part is in the
    subset, so the average is identical to the oracle's full-table CTE);
    the threshold join then co-partitions on l_partkey. avg(l_quantity)
    sums integer-valued doubles — exact in any order, so the strict
    comparison agrees with DuckDB bit-for-bit."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    brands = part.filter(F.col("p_brand").isin("Brand#12", "Brand#23")).select(
        F.col("p_partkey").alias("l_partkey")
    )
    li_b = li.join(F.broadcast(brands), "l_partkey")
    pq = li_b.groupBy("l_partkey").agg(
        (F.lit(0.5) * F.avg("l_quantity")).alias("qty_thresh")
    )
    return (
        li_b.join(pq, "l_partkey")
        .filter(F.col("l_quantity") < F.col("qty_thresh"))
        .agg(
            F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "user_session_gaps",
    """
    WITH e AS (
      SELECT user_id, event_type, event_id,
             epoch_us(CAST(ts AS TIMESTAMP)) AS us
      FROM events
    ),
    d AS (
      SELECT event_type,
             (us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id))
               // 1000000 AS gap_s
      FROM e
    )
    SELECT event_type, count(*) AS n_gaps,
           CAST(max(gap_s) AS BIGINT) AS max_gap_s,
           CAST(sum(gap_s) AS BIGINT) AS total_gap_s
    FROM d WHERE gap_s IS NOT NULL GROUP BY event_type
    """,
    "Per-user inter-event gaps via lag() window (sessionization signal); "
    "deterministic (us, event_id) tie-break inside each user partition",
)
def user_session_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps in whole seconds: summing raw µs gaps would overflow the
    2^53 exact-double range under DuckDB's order-insensitive SUM, while
    second-granularity sums stay exact integers in both engines."""
    ev = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("us", "event_id")
    return (
        ev.select(
            "event_type",
            "event_id",
            "user_id",
            epoch_us_col(ev, "ts").alias("us"),
        )
        .withColumn("prev_us", F.lag("us").over(w))
        .withColumn("gap_s", F.expr("(us - prev_us) div 1000000"))
        .filter(F.col("gap_s").isNotNull())
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_gaps"),
            F.max("gap_s").alias("max_gap_s"),
            F.sum("gap_s").alias("total_gap_s"),
        )
    )


@register(
    "ann_ivfpq_topk",
    None,  # oracle attached below (operator SQL builder)
    "Full IVF-PQ index query: nprobe-cell manifest pruning over a "
    "cell-partitioned lake index that stores only PQ codes (no raw "
    "vectors), ADC scoring on the survivors",
)
def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FAISS-layout composition of ann_ivf_indexed_topk (coarse
    pruning) and ann_pq_topk (code storage): query cost is independent
    of corpus bytes — files prune by cell, rows cost M small ints."""
    from ..operators.similarity import build_ivfpq_index, ivfpq_indexed_topk

    emb = _t(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]
    cat = _fresh_catalog(spark, "ivfpq")
    t = cat.table("emb_ivfpq")
    build_ivfpq_index(t, emb, IVF_CENTROIDS)
    return ivfpq_indexed_topk(
        t, query, IVF_CENTROIDS, k=10, nprobe=2, exclude_ids=[0]
    )


def _attach_similarity_oracles() -> None:
    from ..operators.similarity import ivfpq_indexed_topk_sql

    QUERIES["ann_ivfpq_topk"].oracle = ivfpq_indexed_topk_sql(
        IVF_CENTROIDS, nprobe=2
    )


_attach_similarity_oracles()


DELETE_PRED = "event_type = 'error' OR value < 50.0"


@register(
    "delete_where_events",
    f"""
    SELECT event_type, count(*) AS n,
           CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
    FROM events
    WHERE NOT ({DELETE_PRED})
    GROUP BY event_type
    """,
    "Predicate DELETE over the lake table: only stat-admitting files "
    "rewritten, survivors must equal the oracle's complement filter",
)
def delete_where_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Loads events into a lake table, runs LakeWriter.delete_where
    (file-pruned rewrite), reads the surviving snapshot back. floor()
    before the cents cast (Spark truncates double→long, DuckDB rounds)."""
    ev = _t(spark, sf_dir, "events").select("event_id", "event_type", "value")
    cat = _fresh_catalog(spark, "del")
    w = LakeWriter(cat.table("events_del"), pk=["event_id"])
    w.append(ev)
    w.delete_where(DELETE_PRED)
    return (
        cat.table("events_del")
        .read()
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.floor(F.col("value") * 100).cast("long")).alias("value_cents"),
        )
    )


HIST_BINS = 10
HIST_LO, HIST_HI = 0.0, 1000.0  # fixed edges: no data-derived float parity risk


@register(
    "value_histogram_by_type",
    f"""
    SELECT event_type,
           CASE WHEN value < {HIST_LO} THEN 0
                WHEN value >= {HIST_HI} THEN {HIST_BINS + 1}
                ELSE CAST(floor((value - {HIST_LO}) / {HIST_HI - HIST_LO}
                                * {HIST_BINS}) AS BIGINT) + 1
           END AS bin,
           count(*) AS n
    FROM events
    WHERE value IS NOT NULL
    GROUP BY event_type, bin
    ORDER BY event_type, bin
    """,
    "Grouped equi-width histogram of event values (explicit bucket "
    "arithmetic, identical IEEE op order on both engines; out-of-range "
    "values land in the 0 / n+1 overflow bins)",
)
def value_histogram_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One pass, map-side partial agg on (event_type, bin) — the
    histogram shuffle carries bin counts, never rows. The bucket
    expression is written out (not width_bucket) so BOTH engines run
    byte-identical arithmetic; fixed edges avoid data-derived float
    parity risk."""
    ev = _t(spark, sf_dir, "events")
    v = F.col("value")
    span = HIST_HI - HIST_LO
    bin_col = (
        F.when(v < HIST_LO, 0)
        .when(v >= HIST_HI, HIST_BINS + 1)
        .otherwise(
            F.floor((v - HIST_LO) / span * HIST_BINS).cast("long") + 1
        )
    )
    return (
        ev.filter(v.isNotNull())
        .groupBy("event_type", bin_col.alias("bin"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("event_type", "bin")
    )


Q18_QTY_THRESHOLD = 300


@register(
    "q18_large_volume_orders",
    f"""
    SELECT c_name, o_orderkey, o_orderdate,
           CAST(big.q AS BIGINT) AS total_qty
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN (SELECT l_orderkey, sum(l_quantity) AS q
          FROM lineitem GROUP BY l_orderkey
          HAVING sum(l_quantity) > {Q18_QTY_THRESHOLD}) big
      ON o_orderkey = big.l_orderkey
    ORDER BY total_qty DESC, o_orderkey
    LIMIT 10
    """,
    "TPC-H Q18-style large-volume orders: HAVING-filtered aggregate "
    "subquery joined back to orders/customer, top-10",
)
def q18_large_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The aggregate-then-join shape: lineitem aggregates FIRST (partial
    agg map-side, one shuffle on l_orderkey), the HAVING filter leaves a
    tiny relation that broadcasts into orders — the fact never joins
    row-level. Quantities are integral doubles, so the sums are exact
    and order-insensitive."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("q"))
        .filter(F.col("q") > Q18_QTY_THRESHOLD)
    )
    return (
        orders.join(F.broadcast(big), orders.o_orderkey == big.l_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .select(
            "c_name",
            "o_orderkey",
            "o_orderdate",
            F.col("q").cast("long").alias("total_qty"),
        )
        .orderBy(F.col("total_qty").desc(), F.col("o_orderkey"))
        .limit(10)
    )


@register(
    "funnel_view_click_purchase",
    """
    WITH marked AS (
      SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts,
             CASE WHEN CAST(ts AS TIMESTAMP)
                       - lag(CAST(ts AS TIMESTAMP))
                         OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL '6 hours'
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ),
    sessions AS (
      SELECT user_id, event_type, ts,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS session_no
      FROM marked
    ),
    per_session AS (
      SELECT user_id, session_no,
             min(CASE WHEN event_type = 'view' THEN ts END) AS v,
             min(CASE WHEN event_type = 'click' THEN ts END) AS c,
             min(CASE WHEN event_type = 'purchase' THEN ts END) AS p
      FROM sessions GROUP BY user_id, session_no
    )
    SELECT count(*) AS n_sessions,
           CAST(sum(CASE WHEN v IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
           CAST(sum(CASE WHEN v IS NOT NULL AND c IS NOT NULL AND v <= c
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_view_click,
           CAST(sum(CASE WHEN v IS NOT NULL AND c IS NOT NULL AND p IS NOT NULL
                         AND v <= c AND c <= p
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_funnel
    FROM per_session
    """,
    "Sessionized conversion funnel: view → click → purchase ordered "
    "inside one 6h-gap session (session_window vs gaps-and-islands oracle)",
)
def funnel_view_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One shuffle (user_id session window), per-session min-per-stage,
    then a global roll-up — the standard product-analytics funnel on the
    same sessionization the session_windows query proved equivalent."""
    ev = _t(spark, sf_dir, "events")
    stage = lambda t: F.min(  # noqa: E731
        F.when(F.col("event_type") == t, F.col("ts"))
    )
    per = ev.groupBy("user_id", F.session_window("ts", "6 hours")).agg(
        stage("view").alias("v"),
        stage("click").alias("c"),
        stage("purchase").alias("p"),
    )
    v, c, p = F.col("v"), F.col("c"), F.col("p")
    return per.agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum(F.when(v.isNotNull(), 1).otherwise(0)).alias("n_view"),
        F.sum(
            F.when(v.isNotNull() & c.isNotNull() & (v <= c), 1).otherwise(0)
        ).alias("n_view_click"),
        F.sum(
            F.when(
                v.isNotNull()
                & c.isNotNull()
                & p.isNotNull()
                & (v <= c)
                & (c <= p),
                1,
            ).otherwise(0)
        ).alias("n_funnel"),
    )


@register(
    "time_travel_snapshot",
    """
    WITH v1 AS (
      SELECT event_id, value FROM events WHERE event_id % 10 < 8
    ),
    v2 AS (
      SELECT event_id,
             CASE WHEN event_id % 10 >= 5 THEN value + 1000.0 ELSE value END AS value
      FROM events
    )
    SELECT 'v1' AS snapshot, count(*) AS n,
           CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
    FROM v1
    UNION ALL
    SELECT 'v2' AS snapshot, count(*) AS n,
           CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
    FROM v2
    """,
    "Snapshot isolation / time travel: a versioned read of the table AS "
    "OF the pre-merge commit must still see the old rows after the merge "
    "commits (immutable data files + manifest versioning)",
)
def time_travel_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Builds the merge_upsert table (append = v_base, merge = v_base+1),
    then reads BOTH versions from the same catalog: the old snapshot
    must be bit-stable against the oracle's pre-merge expression even
    though the merge rewrote the live file set. Cents-integerized sums
    keep the comparison order-insensitive exact."""
    w, batch, cat = merge_upsert_build(spark, sf_dir)
    t = cat.table("events_merged")
    v1 = t.current_version()
    w.write(batch)  # MERGE → v1 + 1
    # floor, not cast: Spark double→long truncates toward zero while
    # DuckDB's CAST rounds — floor() agrees everywhere
    cents = lambda df: df.agg(  # noqa: E731
        F.count(F.lit(1)).alias("n"),
        F.sum(F.floor(F.col("value") * 100).cast("long")).alias("value_cents"),
    )
    a = cents(t.read(version=v1)).withColumn("snapshot", F.lit("v1"))
    b = cents(t.read()).withColumn("snapshot", F.lit("v2"))
    return a.unionByName(b).select("snapshot", "n", "value_cents")


@register(
    "q10_returned_item_revenue",
    """
    SELECT c_custkey, c_name, n_name,
           CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 1000000)
                         AS BIGINT)) AS BIGINT) AS revenue_micros
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE o_orderdate >= '1996-01-01' AND o_orderdate < '1996-04-01'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue_micros DESC, c_custkey
    LIMIT 20
    """,
    "TPC-H Q10-style: returned-item revenue per customer in a quarter — "
    "4-way join, wide group key, top-20 (TakeOrderedAndProject)",
)
def q10_returned_item_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact side carries only pushed-filter survivors; both dims and the
    quarter-filtered orders broadcast, so lineitem is never shuffled
    before the aggregate — the q3 shape widened to a per-customer key.
    Revenue integerizes per-ROW to micros before the sum: a grouped
    double sum is order-sensitive in its last ulp and one group per few
    thousand lands on a ROUND(x, 2) half-cent boundary where the two
    engines disagree; integer sums are exact and order-free."""
    cust = _t(spark, sf_dir, "customer")
    nat = _t(spark, sf_dir, "nation")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1996-04-01")
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    rev_micros = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 1_000_000, 0
    ).cast("long")
    return (
        li.join(F.broadcast(orders), li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(rev_micros).alias("revenue_micros"))
        .orderBy(F.col("revenue_micros").desc(), F.col("c_custkey"))
        .limit(20)
    )


@register(
    "q4_priority_returned_orders",
    """
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders
    WHERE o_orderdate >= '1996-01-01' AND o_orderdate < '1996-07-01'
      AND EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey AND l_returnflag = 'R'
      )
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    "TPC-H Q4-style priority check (EXISTS adapted to the returned-line "
    "predicate — this lineitem has no commit/receipt dates): semi-join + "
    "group-by over a date-windowed fact",
)
def q4_priority_returned_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1996-07-01")
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        orders.join(
            li.select("l_orderkey"),
            orders.o_orderkey == li.l_orderkey,
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


@register(
    "q14_promo_revenue_share",
    """
    SELECT ROUND(
             100.0 * sum(CASE WHEN p_type = 'PROMO'
                              THEN l_extendedprice * (1 - l_discount)
                              ELSE 0 END)
             / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1996-02-01'
    """,
    "TPC-H Q14-style promo revenue share: conditional aggregate ratio in "
    "one pass over a month of shipments, part dim broadcast",
)
def q14_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-02-01")
    )
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            F.round(
                100.0
                * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0))
                / F.sum(rev),
                4,
            ).alias("promo_pct")
        )
    )


@register(
    "merge_many_group_commit",
    """
    SELECT event_id, user_id,
           CASE WHEN event_id % 5 = 0 THEN 'b3'
                WHEN event_id % 4 = 0 THEN 'b2'
                WHEN event_id % 3 = 0 THEN 'b1'
                ELSE event_type END AS event_type,
           CASE WHEN event_id % 5 = 0 THEN value + 300.0
                WHEN event_id % 4 = 0 THEN value + 200.0
                WHEN event_id % 3 = 0 THEN value + 100.0
                ELSE value END AS value
    FROM events
    WHERE event_id % 10 < 8
       OR event_id % 3 = 0 OR event_id % 4 = 0 OR event_id % 5 = 0
    """,
    "Group commit (merge_many): three overlapping batches applied as ONE "
    "merge must equal sequential batch-at-a-time merges — later batches "
    "win per key, one commit total",
)
def merge_many_group_commit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drives LakeWriter.merge_many end-to-end: 80% of events as base,
    then three derived batches (every-3rd, every-4th, every-5th key,
    each with a distinct payload) group-committed in one call. Final
    state must equal the oracle's precedence CASE — b3 over b2 over b1
    over base — proving batch-sequential semantics survive the single
    merge (its ephemeral batch ordinal orders last-write-wins). Exactly
    one commit lands (version advances by 1)."""
    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "event_type", "value")
    base = ev.filter(F.col("event_id") % 10 < 8)
    batches = [
        ev.filter(F.col("event_id") % m == 0)
        .withColumn("value", F.col("value") + F.lit(float(add)))
        .withColumn("event_type", F.lit(tag))
        for m, add, tag in ((3, 100.0, "b1"), (4, 200.0, "b2"), (5, 300.0, "b3"))
    ]
    cat = _fresh_catalog(spark, "gc")
    w = LakeWriter(cat.table("events_gc"), pk=["event_id"])
    w.write(base)
    v0 = cat.table("events_gc").current_version()
    w.merge_many(batches)
    assert cat.table("events_gc").current_version() == v0 + 1
    return (
        cat.table("events_gc")
        .read()
        .select("event_id", "user_id", "event_type", "value")
    )


# ---------------------------------------------------------------------------
# Predicate UPDATE over the lake table
# ---------------------------------------------------------------------------

UPDATE_PRED = "event_type = 'click'"


@register(
    "update_where_events",
    f"""
    SELECT event_type, count(*) AS n,
           CAST(sum(CASE WHEN {UPDATE_PRED}
                    THEN CAST(floor(value * 100) AS BIGINT) * 2
                    ELSE CAST(floor(value * 100) AS BIGINT) END) AS BIGINT)
             AS value_cents
    FROM events
    GROUP BY event_type
    """,
    "Predicate UPDATE over the lake table: stat-admitting files "
    "rewritten in place with SET expressions (matching rows doubled), "
    "untouched files carried — end state must equal the oracle's CASE "
    "projection",
)
def update_where_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Loads events into a lake table, runs LakeWriter.update_where
    (file-pruned in-place rewrite doubling matching rows' cents), reads
    the final snapshot back. Values integerize to cents BEFORE the
    update so both engines double exact integers."""
    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.floor(F.col("value") * 100).cast("long").alias("value_cents"),
    )
    cat = _fresh_catalog(spark, "upd")
    w = LakeWriter(cat.table("events_upd"), pk=["event_id"])
    w.append(ev)
    w.update_where(UPDATE_PRED, {"value_cents": "value_cents * 2"})
    return (
        cat.table("events_upd")
        .read()
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value_cents").alias("value_cents"),
        )
    )


# ---------------------------------------------------------------------------
# cdc_upsert_tombstones
# ---------------------------------------------------------------------------


@register(
    "cdc_upsert_tombstones",
    """
    WITH last AS (
      SELECT user_id,
             arg_max(event_type, event_id) AS et,
             arg_max(value, event_id) AS v,
             max(event_id) AS seq
      FROM events GROUP BY user_id
    )
    SELECT CAST(count(*) AS BIGINT) AS n_live,
           ROUND(sum(v), 2) AS sum_value,
           CAST(sum(seq) AS BIGINT) AS seq_sum
    FROM last WHERE et <> 'error'
    """,
    "CDC changelog apply with delete semantics: per-user base snapshot, "
    "then the whole event stream as a changelog MERGE (order_col=event "
    "sequence, tombstone_col=error events) — last-write-wins including "
    "winning tombstones deleting their key. The whenMatchedDelete "
    "extension over the reference's MERGE (SURVEY §2.G)",
)
def cdc_upsert_tombstones(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exercises the lake MERGE's tombstone path end-to-end (pytest
    covers it unit-level in test_tombstones.py; this adds the driver
    oracle). A user whose LAST event is an 'error' is tombstoned out of
    the final table; everyone else carries their latest event's payload."""
    ev = _t(spark, sf_dir, "events")
    base = (
        ev.groupBy("user_id")
        .agg(F.lit("base").alias("event_type"), F.lit(0.0).alias("value"),
             F.lit(0).cast("long").alias("seq"))
    )
    changelog = ev.select(
        "user_id",
        "event_type",
        "value",
        F.col("event_id").alias("seq"),
        (F.col("event_type") == "error").alias("_deleted"),
    )
    cat = _fresh_catalog(spark, "cdc")
    w = LakeWriter(cat.table("user_state"), pk=["user_id"])
    w.write(base)
    w.merge(changelog, order_col="seq", tombstone_col="_deleted")
    final = cat.table("user_state").read()
    return final.agg(
        F.count(F.lit(1)).alias("n_live"),
        F.round(F.sum("value"), 2).alias("sum_value"),
        F.sum("seq").alias("seq_sum"),
    )


# ---------------------------------------------------------------------------
# Snapshot change feed (CDC between two committed lake versions)
# ---------------------------------------------------------------------------


@register(
    "snapshot_diff_changefeed",
    """
    WITH v1 AS (
      SELECT event_id, value FROM events WHERE event_id % 10 < 8
    ),
    v2 AS (
      SELECT event_id,
             CASE WHEN event_id % 10 >= 5 THEN value + 1000.0 ELSE value END AS value
      FROM events
    ),
    j AS (
      SELECT v1.event_id AS old_id, v2.event_id AS new_id,
             CAST(floor(v1.value * 100) AS BIGINT) AS oc,
             CAST(floor(v2.value * 100) AS BIGINT) AS nc
      FROM v1 FULL JOIN v2 ON v1.event_id = v2.event_id
    )
    SELECT CASE WHEN old_id IS NULL THEN 'insert'
                WHEN new_id IS NULL THEN 'delete'
                WHEN oc <> nc THEN 'update'
                ELSE 'unchanged' END AS change_type,
           count(*) AS n,
           CAST(sum(coalesce(nc, oc)) AS BIGINT) AS value_cents
    FROM j
    GROUP BY 1
    """,
    "Change-data feed between two lake snapshots: full-outer diff of a "
    "pre-merge and post-merge version of the same table, classified "
    "insert/update/delete/unchanged (the CDC read a downstream "
    "incremental consumer would run)",
)
def snapshot_diff_changefeed(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _build_snapshot_diff(spark, sf_dir)


def _build_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drives the real write path twice (append → v1, MERGE → v2), then
    diffs the two committed versions via one full-outer join on the PK —
    both sides are manifest-versioned reads of the SAME catalog, proving
    immutable data files + manifest versioning give a usable change feed
    without any change-log machinery. Values compare as per-row floor
    cents (exact, order-free). At scale the join shuffles only
    (pk, cents) pairs, never payloads."""
    w, batch, cat = merge_upsert_build(spark, sf_dir)
    t = cat.table("events_merged")
    v1 = t.current_version()
    w.write(batch)  # MERGE → v1 + 1
    cents = lambda c: F.floor(c * 100).cast("long")  # noqa: E731
    old = t.read(version=v1).select(
        F.col("event_id").alias("old_id"), cents(F.col("value")).alias("oc")
    )
    new = t.read().select(
        F.col("event_id").alias("new_id"), cents(F.col("value")).alias("nc")
    )
    j = old.join(new, old.old_id == new.new_id, "full_outer")
    change = (
        F.when(F.col("old_id").isNull(), "insert")
        .when(F.col("new_id").isNull(), "delete")
        .when(F.col("oc") != F.col("nc"), "update")
        .otherwise("unchanged")
    )
    return (
        j.select(change.alias("change_type"), F.coalesce("nc", "oc").alias("c"))
        .groupBy("change_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("c").alias("value_cents"))
    )


# ---------------------------------------------------------------------------
# Incremental aggregate maintenance from the CDC feed
# ---------------------------------------------------------------------------


@register(
    "incremental_agg_view",
    """
    WITH final AS (
      SELECT CASE WHEN event_id % 10 >= 5 THEN 'updated' ELSE event_type END
               AS event_type,
             CASE WHEN event_id % 10 >= 5 THEN value + 1000.0 ELSE value END
               AS value
      FROM events
    )
    SELECT event_type,
           count(*) AS n_events,
           CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
             AS value_cents
    FROM final
    GROUP BY event_type
    """,
    "Materialized aggregate maintained INCREMENTALLY from the CDC "
    "preimage/postimage feed between two lake versions — signed deltas "
    "folded into the v1 aggregate reproduce the full recompute the "
    "oracle runs, including rows that migrate between group keys",
)
def incremental_agg_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _build_incremental_agg_view(spark, sf_dir)


def _build_incremental_agg_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB materialized-view story: after a MERGE touches a sliver
    of the table, refresh a per-group aggregate by folding the
    ``changes(preimages=True)`` feed into the previous aggregate instead
    of rescanning the corpus. Every feed row carries sign +1
    (insert/update_postimage) or -1 (delete/update_preimage); summing
    signed counts and signed cents per group handles group-key migration
    (the merge rewrites event_type to 'updated') with no special cases.
    Cost at scale: base aggregate is already materialized (here: the
    pinned-v1 read stands in for it), so the refresh reads only the
    churned files — cost proportional to the delta, not the table.
    Values integerize to floor-cents per row so base+delta addition is
    exact and order-free."""
    w, batch, cat = merge_upsert_build(spark, sf_dir)
    t = cat.table("events_merged")
    v1 = t.current_version()
    w.write(batch)  # MERGE → v1 + 1

    cents = F.floor(F.col("value") * 100).cast("long")
    base = (
        t.read(version=v1)
        .select("event_type", cents.alias("c"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("c").alias("vc"))
    )
    feed = t.changes(v1, preimages=True)
    sign = F.when(
        F.col("_change_type").isin("insert", "update_postimage"), F.lit(1)
    ).otherwise(F.lit(-1))
    delta = (
        feed.select("event_type", sign.alias("s"), cents.alias("c"))
        .groupBy("event_type")
        .agg(F.sum("s").alias("dn"), F.sum(F.col("s") * F.col("c")).alias("dvc"))
    )
    zero = F.lit(0).cast("long")
    merged = base.join(delta, "event_type", "full_outer").select(
        "event_type",
        (F.coalesce("n", zero) + F.coalesce("dn", zero)).alias("n_events"),
        (F.coalesce("vc", zero) + F.coalesce("dvc", zero)).alias("value_cents"),
    )
    return merged.filter(F.col("n_events") > 0)


# TPC-H completion set (Q2/Q7-Q9/Q11-Q13/Q15/Q16/Q19-Q22) and the other
# plan modules register on import; late imports because they need
# register/_t from this module.
from . import format_parity, ingest_replay, quality, timeseries, tpch  # noqa: E402,F401  (registration side effect)


def query_map() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: qd.fn for name, qd in QUERIES.items()}


def oracle_sql_map() -> dict[str, str]:
    return {
        name: qd.oracle.strip() for name, qd in QUERIES.items() if qd.oracle
    }


@register(
    "matview_incremental_refresh",
    """
    SELECT CASE WHEN event_id % 10 >= 5 THEN 'updated' ELSE event_type END
             AS event_type,
           CAST(sum(CASE WHEN event_id % 10 >= 5
                    THEN CAST(floor(value * 100) AS BIGINT) + 1000
                    ELSE CAST(floor(value * 100) AS BIGINT) END) AS BIGINT)
             AS total_cents,
           CAST(count(*) AS BIGINT) AS n
    FROM events
    WHERE event_id % 7 <> 0
    GROUP BY 1
    """,
    "Materialized view with INCREMENTAL refresh (lake/matview.py): a "
    "sum/count rollup materializes against a pinned base snapshot, the "
    "base is then upserted (50% overlap) and predicate-deleted, and "
    "REFRESH folds the change feed's signed deltas into the view with "
    "one churn-sized MERGE — asserted in-query to have taken the "
    "incremental path, never a recompute. The view must equal the "
    "from-scratch aggregate over the final base state.",
)
def matview_incremental_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    )
    cat = _fresh_catalog(spark, "q")
    w = LakeWriter(cat.table("events_mv"), pk=["event_id"])
    w.write(ev.filter(F.col("event_id") % 10 < 8))
    cat.sql(
        "CREATE MATERIALIZED VIEW ev_rollup AS SELECT event_type, "
        "sum(cents) AS total_cents, count(*) AS n FROM events_mv "
        "GROUP BY event_type"
    )
    # churn the base: 50%-overlap upsert (+1000 cents, type 'updated'
    # moves rows ACROSS groups) and a predicate delete
    w.write(
        ev.filter(F.col("event_id") % 10 >= 5)
        .withColumn("cents", F.col("cents") + F.lit(1000))
        .withColumn("event_type", F.lit("updated"))
    )
    w.delete_where("event_id % 7 = 0")
    st = cat.sql("REFRESH MATERIALIZED VIEW ev_rollup").collect()[0]
    if "incremental" not in st["detail"]:
        raise AssertionError(f"refresh took {st['detail']!r}, not incremental")
    return cat.table("ev_rollup").read().select("event_type", "total_cents", "n")


@register(
    "sql_view_expansion",
    """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents
    FROM events
    WHERE value >= 100
    GROUP BY event_type
    """,
    "Logical SQL views (CREATE VIEW / view-on-view): stored SELECTs "
    "expand into the referencing statement as leading CTEs in "
    "dependency order, so Catalyst optimizes through the bodies and "
    "manifest pruning sees the base tables. The query rolls up a "
    "filtered view THROUGH a second view and must equal the inlined "
    "aggregate.",
)
def sql_view_expansion(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
        "value",
    )
    cat = _fresh_catalog(spark, "q")
    LakeWriter(cat.table("events_v"), pk=["event_id"]).write(ev)
    cat.sql(
        "CREATE VIEW valuable AS SELECT event_type, cents FROM events_v "
        "WHERE value >= 100"
    )
    cat.sql(
        "CREATE VIEW valuable_rollup AS SELECT event_type, "
        "count(*) AS n, sum(cents) AS cents FROM valuable GROUP BY event_type"
    )
    return cat.sql(
        "SELECT event_type, n, cents FROM valuable_rollup"
    )


@register(
    "matview_avg_refresh",
    """
    SELECT event_type,
           CASE WHEN count(m) > 0
                THEN CAST(sum(m) AS DOUBLE) / count(m) END AS avg_cents,
           CAST(count(*) AS BIGINT) AS n
    FROM (
        SELECT CASE WHEN event_id % 10 >= 5 THEN 'updated'
                    ELSE event_type END AS event_type,
               CASE WHEN event_id % 13 <> 0 THEN
                    CASE WHEN event_id % 10 >= 5
                         THEN CAST(floor(value * 100) AS BIGINT) + 1000
                         ELSE CAST(floor(value * 100) AS BIGINT) END
               END AS m
        FROM events
        WHERE event_id % 7 <> 0
    )
    GROUP BY event_type
    """,
    "avg() in an incrementally-refreshed materialized view "
    "(lake/matview.py r13): avg decomposes at CREATE into a maintained "
    "<alias>__sum/__cnt pair and the public column is re-derived from "
    "the folded pair each refresh — exact under updates, deletes, and a "
    "NULLABLE measure (the oracle's single sum/count division matches "
    "bit-for-bit because both sides divide the same exact integers "
    "once). Asserted in-query to have taken the incremental path.",
)
def matview_avg_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.when(
            F.col("event_id") % 13 != 0, F.floor(F.col("value") * 100)
        ).cast("long").alias("cents"),
    )
    cat = _fresh_catalog(spark, "q")
    w = LakeWriter(cat.table("events_avg"), pk=["event_id"])
    w.write(ev.filter(F.col("event_id") % 10 < 8))
    cat.sql(
        "CREATE MATERIALIZED VIEW avg_rollup AS SELECT event_type, "
        "avg(cents) AS avg_cents, count(*) AS n FROM events_avg "
        "GROUP BY event_type"
    )
    w.write(
        ev.filter(F.col("event_id") % 10 >= 5)
        .withColumn("cents", F.col("cents") + F.lit(1000))
        .withColumn("event_type", F.lit("updated"))
    )
    w.delete_where("event_id % 7 = 0")
    st = cat.sql("REFRESH MATERIALIZED VIEW avg_rollup").collect()[0]
    if "incremental" not in st["detail"]:
        raise AssertionError(f"refresh took {st['detail']!r}, not incremental")
    return cat.table("avg_rollup").read().select("event_type", "avg_cents", "n")


@register(
    "cdf_over_mor_merge",
    """
    SELECT event_id, 'delete' AS change_type, event_type,
           CAST(floor(value * 100) AS BIGINT) AS cents
    FROM events WHERE event_id % 10 < 8 AND event_id % 7 = 0
    UNION ALL
    SELECT event_id, 'update' AS change_type, 'updated' AS event_type,
           CAST(floor(value * 100) AS BIGINT) + 1000 AS cents
    FROM events
    WHERE event_id % 10 BETWEEN 5 AND 7 AND event_id % 7 <> 0
    UNION ALL
    SELECT event_id, 'insert' AS change_type, 'updated' AS event_type,
           CAST(floor(value * 100) AS BIGINT) + 1000 AS cents
    FROM events
    WHERE event_id % 10 IN (8, 9) AND event_id % 7 <> 0
    """,
    "Change-data feed OVER a merge-on-read table (lake/table.py changes "
    "+ lake/mor.py visibility): after a MOR upsert and a MOR predicate "
    "delete, table_changes() must report the tombstone-suppressed keys "
    "as deletes/updates WITHOUT materializing the table (asserted "
    "in-query: tombstone state still standing, no compaction commit). "
    "The feed is the visible-snapshot diff, so standing tombstones can "
    "never surface suppressed row versions as spurious events.",
)
def cdf_over_mor_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..lake.mor import MODE_MOR, mor_state

    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    )
    cat = _fresh_catalog(spark, "q")
    t = cat.table("events_cdfmor")
    w = LakeWriter(t, pk=["event_id"], merge_mode=MODE_MOR)
    w.write(ev.filter(F.col("event_id") % 10 < 8))
    v0 = t.current_version()
    w.write(
        ev.filter(F.col("event_id") % 10 >= 5)
        .withColumn("cents", F.col("cents") + F.lit(1000))
        .withColumn("event_type", F.lit("updated"))
    )
    w.delete_where("event_id % 7 = 0")
    m = t.manifest()
    if not mor_state(m)[1]:
        raise AssertionError("expected standing merge-on-read tombstones")
    if m.props["last_op"] != "DELETE(MOR)":
        raise AssertionError(f"unexpected last_op {m.props['last_op']}")
    return cat.sql(
        f"SELECT event_id, _change_type AS change_type, event_type, cents "
        f"FROM table_changes('events_cdfmor', {v0}, {t.current_version()})"
    )


@register(
    "matview_minmax_repair",
    """
    SELECT event_type, min(m) AS lo, max(m) AS hi,
           CAST(count(*) AS BIGINT) AS n
    FROM (
        SELECT CASE WHEN event_id % 10 >= 5 THEN 'updated'
                    ELSE event_type END AS event_type,
               CASE WHEN event_id % 10 >= 5
                    THEN CAST(floor(value * 100) AS BIGINT) + 1000
                    ELSE CAST(floor(value * 100) AS BIGINT) END AS m
        FROM events
        WHERE event_id % 7 <> 0 AND event_id % 3 = 0
    )
    GROUP BY event_type
    """,
    "min/max in an incrementally-refreshed materialized view via "
    "TOUCHED-GROUP REPAIR (lake/matview.py r13): inserts fold as "
    "least/greatest, but the predicate delete makes a min/max "
    "un-foldable, so refresh recomputes exactly the groups the change "
    "feed deleted from — a base scan semi-joined to churn-bounded group "
    "keys, manifest-pruned via an IN predicate for ≤256 single-column "
    "keys. Asserted in-query: the refresh reports the repair path and "
    "the result equals the from-scratch aggregate.",
)
def matview_minmax_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    # 1/3 slice: the query's POINT is the repair path, not corpus volume
    # (every group gets deleted from, so repair recomputes them all)
    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") % 3 == 0).select(
        "event_id",
        "event_type",
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    )
    cat = _fresh_catalog(spark, "q")
    w = LakeWriter(cat.table("events_mm"), pk=["event_id"])
    w.write(ev.filter(F.col("event_id") % 10 < 8))
    cat.sql(
        "CREATE MATERIALIZED VIEW mm_rollup AS SELECT event_type, "
        "min(cents) AS lo, max(cents) AS hi, count(*) AS n "
        "FROM events_mm GROUP BY event_type"
    )
    w.write(
        ev.filter(F.col("event_id") % 10 >= 5)
        .withColumn("cents", F.col("cents") + F.lit(1000))
        .withColumn("event_type", F.lit("updated"))
    )
    w.delete_where("event_id % 7 = 0")
    st = cat.sql("REFRESH MATERIALIZED VIEW mm_rollup").collect()[0]
    if "repair" not in st["detail"]:
        raise AssertionError(f"refresh took {st['detail']!r}, expected repair")
    return cat.table("mm_rollup").read().select("event_type", "lo", "hi", "n")


@register(
    "sql_view_over_matview",
    """
    SELECT event_type, total_cents, n
    FROM (
        SELECT event_type,
               CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
                 AS total_cents,
               CAST(count(*) AS BIGINT) AS n
        FROM events
        WHERE event_id % 2 = 0
        GROUP BY event_type
    )
    WHERE n >= 10
    """,
    "A logical VIEW over a MATERIALIZED VIEW (r13): the MV is a lake "
    "table, so a stored view body can filter/reshape it and the "
    "expansion machinery registers the MV like any base table. The "
    "view also survives an incremental MV refresh (asserted in-query: "
    "refresh runs between view creation and the read).",
)
def sql_view_over_matview(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") % 2 == 0).select(
        "event_id",
        "event_type",
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    )
    cat = _fresh_catalog(spark, "q")
    w = LakeWriter(cat.table("events_vm"), pk=["event_id"])
    w.write(ev.filter(F.col("event_id") % 3 != 0))
    cat.sql(
        "CREATE MATERIALIZED VIEW vm_rollup AS SELECT event_type, "
        "sum(cents) AS total_cents, count(*) AS n FROM events_vm "
        "GROUP BY event_type"
    )
    cat.sql(
        "CREATE VIEW busy_types AS SELECT event_type, total_cents, n "
        "FROM vm_rollup WHERE n >= 10"
    )
    # churn + incremental refresh BETWEEN view creation and the read
    w.write(ev.filter(F.col("event_id") % 3 == 0))
    st = cat.sql("REFRESH MATERIALIZED VIEW vm_rollup").collect()[0]
    if "incremental" not in st["detail"]:
        raise AssertionError(f"refresh took {st['detail']!r}")
    return cat.sql("SELECT event_type, total_cents, n FROM busy_types")


@register(
    "sequence_surrogate_keys",
    """
    WITH keyed AS (
      SELECT row_number() OVER (ORDER BY doc_id) AS sk, lang
      FROM (SELECT doc_id, lang FROM documents WHERE doc_id % 3 = 0)
    )
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT sk) AS BIGINT) AS n_keys,
           CAST(min(sk) AS BIGINT) AS min_key,
           CAST(max(sk) AS BIGINT) AS max_key,
           CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
    FROM keyed
    """,
    "CREATE SEQUENCE + nextval (r14, lake/sequence.py): surrogate keys "
    "drawn from a catalog sequence while ingesting a documents slice — "
    "SELECT-list nextval strips to a block reservation (ONE CAS per "
    "statement) and per-partition arithmetic assignment (no shuffle, "
    "no window). Which row gets which key is unspecified under "
    "parallelism (DuckDB behaves the same), so the contract checked is "
    "the exact one sequences guarantee: n_rows unique keys forming the "
    "dense block [1, n_rows] — the oracle mirrors it with row_number.",
)
def sequence_surrogate_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 3 == 0).select(
        "doc_id", "lang"
    )
    cat = _fresh_catalog(spark, "q")
    view = f"seq_src_{uuid.uuid4().hex[:8]}"
    docs.createOrReplaceTempView(view)
    cat.sql("CREATE SEQUENCE doc_sk")
    cat.sql(
        f"CREATE TABLE keyed_docs AS "
        f"SELECT nextval('doc_sk') AS sk, doc_id, lang FROM {view}"
    )
    spark.catalog.dropTempView(view)
    return cat.sql(
        "SELECT CAST(count(*) AS BIGINT) AS n_rows, "
        "CAST(count(DISTINCT sk) AS BIGINT) AS n_keys, "
        "CAST(min(sk) AS BIGINT) AS min_key, "
        "CAST(max(sk) AS BIGINT) AS max_key, "
        "CAST(count(DISTINCT lang) AS BIGINT) AS n_langs "
        "FROM keyed_docs"
    )


@register(
    "tvf_insertions_deletions",
    """
    WITH upd AS (
      SELECT event_id, value FROM events
      WHERE event_id % 10 BETWEEN 5 AND 7 AND event_id % 4 = 1
    ),
    ins AS (
      SELECT event_id FROM events
      WHERE event_id % 10 >= 8 AND event_id % 4 = 1
    ),
    del AS (
      SELECT event_id FROM events
      WHERE event_id % 10 = 0 AND event_id % 4 = 1
    )
    SELECT 'inserted' AS side,
           CAST((SELECT count(*) FROM upd) + (SELECT count(*) FROM ins)
                AS BIGINT) AS n,
           CAST((SELECT coalesce(sum(event_id), 0) FROM upd)
                + (SELECT coalesce(sum(event_id), 0) FROM ins)
                AS BIGINT) AS id_sum
    UNION ALL
    SELECT 'deleted',
           CAST((SELECT count(*) FROM upd) + (SELECT count(*) FROM del)
                AS BIGINT),
           CAST((SELECT coalesce(sum(event_id), 0) FROM upd)
                + (SELECT coalesce(sum(event_id), 0) FROM del)
                AS BIGINT)
    ORDER BY side
    """,
    "DuckLake's ducklake_table_insertions/_deletions as SQL TVFs "
    "(r14): the row values that became / stopped being visible across "
    "a span — updates contribute their NEW image to insertions and "
    "their OLD image to deletions, hard deletes only to deletions. "
    "Built on the same shared-file-skipping CDF diff as "
    "table_changes, so the span cost scales with churn, not table "
    "size. The oracle reconstructs both sides arithmetically.",
)
def tvf_insertions_deletions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    sl = ev.filter(F.col("event_id") % 4 == 1)
    base = sl.filter(F.col("event_id") % 10 < 8)
    batch = (
        sl.filter(F.col("event_id") % 10 >= 5)
        .withColumn("value", F.col("value") + 1000.0)
    )
    cat = _fresh_catalog(spark, "q")
    w = LakeWriter(cat.table("events_tvf"), pk=["event_id"])
    w.write(base)
    v1 = cat.table("events_tvf").current_version()
    w.write(batch)  # updates %10 in 5..7, inserts %10 in 8..9
    cat.sql("DELETE FROM events_tvf WHERE event_id % 10 = 0")
    v3 = cat.table("events_tvf").current_version()
    return cat.sql(
        f"SELECT 'inserted' AS side, CAST(count(*) AS BIGINT) AS n, "
        f"CAST(coalesce(sum(event_id), 0) AS BIGINT) AS id_sum "
        f"FROM table_insertions('events_tvf', {v1}, {v3}) "
        f"UNION ALL "
        f"SELECT 'deleted', CAST(count(*) AS BIGINT), "
        f"CAST(coalesce(sum(event_id), 0) AS BIGINT) "
        f"FROM table_deletions('events_tvf', {v1}, {v3}) "
        f"ORDER BY side"
    )
