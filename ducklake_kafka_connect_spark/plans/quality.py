"""SQL-surface completeness + data-quality queries: set operations,
RANGE-frame moving aggregates, a one-pass column profiler,
referential-integrity auditing, a mergeable binned quantile sketch, an
analytic window suite, deletion-variant fuzzy matching, VARIANT path
extraction and a bucketed co-located join.

These close the gaps a warehouse user notices first when switching
engines — INTERSECT/EXCEPT, `RANGE BETWEEN` frames, ANALYZE-style
profiling, FK orphan checks — and add the mergeable-histogram quantile
shape that scales where exact `percentile` sorts cannot.

Determinism contract: money in integer cents before aggregation; the
only division anywhere is one exact-BIGINT pair in IEEE double rounded
to 6 decimals (the same contract plans/timeseries.py keeps).
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from .queries import _scratch_dir, _t, epoch_us_col, register
from .timeseries import US_PER_DAY

CENTS_SQL = "CAST(floor(value * 100) AS BIGINT)"
EPOCH_US_SQL = "epoch_us(CAST(ts AS TIMESTAMP))"

# binned-quantile sketch parameters: 500.00-wide bins over o_totalprice
BIN_CENTS = 50_000
QUANTILE_PCTS = [50, 90, 99]  # integer percent → exact thresholds


# ---------------------------------------------------------------------------
# Set operations
# ---------------------------------------------------------------------------


@register(
    "set_ops_priority_customers",
    """
    WITH u AS (SELECT DISTINCT o_custkey FROM orders
               WHERE o_orderpriority = '1-URGENT'),
         h AS (SELECT DISTINCT o_custkey FROM orders
               WHERE o_orderpriority = '2-HIGH')
    SELECT
      (SELECT count(*) FROM (SELECT * FROM u INTERSECT SELECT * FROM h))
        AS n_both,
      (SELECT count(*) FROM (SELECT * FROM u EXCEPT SELECT * FROM h))
        AS n_urgent_only,
      (SELECT count(*) FROM (SELECT * FROM h EXCEPT SELECT * FROM u))
        AS n_high_only,
      (SELECT count(*) FROM (SELECT * FROM u UNION SELECT * FROM h))
        AS n_either
    """,
    "INTERSECT / EXCEPT / UNION-distinct over customer sets drawn from "
    "two order-priority slices",
)
def set_ops_priority_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The three SQL set operators in one audit row.

    Scale shape: each input collapses to DISTINCT custkeys at the scan
    (partial aggregation before the shuffle), so the set ops run over
    |customers|-sized sets, not order rows. Spark plans INTERSECT /
    EXCEPT as left-semi / left-anti hash joins on the already-distinct
    sides — no sort, no nested loop. The four counts stay ONE lazy
    plan: each is a 1-row aggregate, stitched by broadcast cross-joins
    (no driver-side .count() actions).
    """
    orders = _t(spark, sf_dir, "orders")
    u = (
        orders.filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
        .distinct()
    )
    h = (
        orders.filter(F.col("o_orderpriority") == "2-HIGH")
        .select("o_custkey")
        .distinct()
    )
    # the two distinct key sets feed all four set ops — persist so the
    # fact is scanned once per side, not once per operator
    u.persist()
    h.persist()
    parts = [
        u.intersect(h).agg(F.count("*").alias("n_both")),
        u.subtract(h).agg(F.count("*").alias("n_urgent_only")),
        h.subtract(u).agg(F.count("*").alias("n_high_only")),
        u.union(h).distinct().agg(F.count("*").alias("n_either")),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.crossJoin(F.broadcast(p))
    return out


# ---------------------------------------------------------------------------
# RANGE-frame moving aggregate (7-day trailing window)
# ---------------------------------------------------------------------------


@register(
    "moving_sum_range_frame",
    f"""
    WITH daily AS (
      SELECT event_type,
             CAST(floor({EPOCH_US_SQL} / {US_PER_DAY}) AS BIGINT) AS day_idx,
             count(*) AS n,
             sum({CENTS_SQL}) AS cents
      FROM events GROUP BY 1, 2
    )
    SELECT event_type, day_idx,
           CAST(sum(n) OVER w AS BIGINT) AS n_7d,
           CAST(sum(cents) OVER w AS BIGINT) AS cents_7d,
           round(CAST(sum(cents) OVER w AS DOUBLE)
                 / CAST(sum(n) OVER w AS DOUBLE), 6) AS avg_cents_7d
    FROM daily
    WINDOW w AS (PARTITION BY event_type ORDER BY day_idx
                 RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
    ORDER BY event_type, day_idx
    """,
    "7-day trailing totals per event type via a RANGE frame over the "
    "daily pre-aggregate (value-based window, robust to missing days)",
)
def moving_sum_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day window with a RANGE (value-based) frame — unlike a
    ROWS frame it stays correct when days are missing, the property that
    matters on sparse series.

    Scale shape: the fact collapses to |types|×|days| daily rows first
    (the only shuffle that sees events); the RANGE frame then runs over
    the tiny aggregate. The trailing average divides two exact BIGINTs
    once, rounded to 6 — cross-engine identical.
    """
    ev = _t(spark, sf_dir, "events")
    daily = (
        ev.select(
            "event_type",
            F.floor(epoch_us_col(ev, "ts") / F.lit(US_PER_DAY))
            .cast("long")
            .alias("day_idx"),
            F.floor(F.col("value") * 100).cast("long").alias("cents"),
        )
        .groupBy("event_type", "day_idx")
        .agg(F.count("*").alias("n"), F.sum("cents").alias("cents"))
    )
    w = (
        W.partitionBy("event_type")
        .orderBy("day_idx")
        .rangeBetween(-6, W.currentRow)
    )
    n7 = F.sum("n").over(w)
    c7 = F.sum("cents").over(w)
    return daily.select(
        "event_type",
        "day_idx",
        n7.alias("n_7d"),
        c7.alias("cents_7d"),
        F.round(c7.cast("double") / n7.cast("double"), 6).alias("avg_cents_7d"),
    ).orderBy("event_type", "day_idx")


# ---------------------------------------------------------------------------
# One-pass column profiler (ANALYZE-style)
# ---------------------------------------------------------------------------

PROFILE_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_returnflag", "l_shipdate"]


@register(
    "table_profile_lineitem",
    "\nUNION ALL\n".join(
        f"""
    SELECT '{c}' AS column_name,
           count(*) AS n_rows,
           count(*) - count({c}) AS n_nulls,
           count(DISTINCT {c}) AS n_distinct,
           CAST(min({c}) AS VARCHAR) AS min_value,
           CAST(max({c}) AS VARCHAR) AS max_value
    FROM lineitem
    """
        for c in PROFILE_COLS
    )
    + "\nORDER BY column_name",
    "ANALYZE-style profile of five lineitem columns — null counts, "
    "distinct cardinality, min/max — in ONE scan via a wide aggregate",
)
def table_profile_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiler: the stats a writer harvests into file-skipping
    metadata (lake/skipping.py) and an optimizer reads as table stats.

    Scale shape: columns are unpivoted FIRST — ``stack`` emits
    (column_name, value) rows in the scan projection, one branch per
    value type so min/max stay typed — then a two-stage aggregate:
    groupBy(column, value) partial-combines map-side (the shuffle
    carries |distinct values| per column, not rows), and the per-column
    rollup derives n_rows/nulls/distinct/min/max from those counts.
    This replaces the multi-`countDistinct` wide aggregate, whose
    Expand-based rewrite shuffled |cols|× the table at sf0.1 (7.7 s →
    ~1 s measured) and would shuffle 5× a 100 TB fact. The oracle's
    UNION ALL of per-column scans is the semantically-equal slow form.
    """
    li = _t(spark, sf_dir, "lineitem")
    type_groups = [  # one stack branch per storage type, min/max typed
        ["l_quantity", "l_extendedprice", "l_discount"],
        ["l_returnflag"],
        ["l_shipdate"],
    ]
    branches = []
    for cols in type_groups:
        stacked = li.select(
            F.expr(
                f"stack({len(cols)}, "
                + ", ".join(f"'{c}', {c}" for c in cols)
                + ") AS (column_name, v)"
            )
        )
        per_val = stacked.groupBy("column_name", "v").agg(
            F.count(F.lit(1)).alias("cnt")
        )
        branches.append(
            per_val.groupBy("column_name").agg(
                F.sum("cnt").alias("n_rows"),
                F.sum(
                    F.when(F.col("v").isNull(), F.col("cnt")).otherwise(F.lit(0))
                ).alias("n_nulls"),
                F.count(F.when(F.col("v").isNotNull(), F.lit(1))).alias("n_distinct"),
                F.min("v").cast("string").alias("min_value"),
                F.max("v").cast("string").alias("max_value"),
            )
        )
    out = branches[0]
    for b in branches[1:]:
        out = out.unionByName(b)
    return out.orderBy("column_name")


# ---------------------------------------------------------------------------
# Referential-integrity audit (FK orphan checks)
# ---------------------------------------------------------------------------


@register(
    "fk_integrity_audit",
    """
    SELECT
      (SELECT count(*) FROM lineitem l
        WHERE NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_orderkey = l.l_orderkey))
        AS lineitem_orphans,
      (SELECT count(*) FROM orders o
        WHERE NOT EXISTS (SELECT 1 FROM customer c
                          WHERE c.c_custkey = o.o_custkey))
        AS order_orphans,
      (SELECT count(DISTINCT l_orderkey) FROM lineitem) AS lineitem_orderkeys,
      (SELECT count(*) FROM orders) AS order_rows
    """,
    "FK orphan audit: lineitem rows without an order and orders without "
    "a customer, via anti joins",
)
def fk_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constraint validation as a query — the check a pipeline runs
    before publishing a snapshot.

    Scale shape: orders→customer is an anti join against the broadcast
    customer key set; lineitem→orders is a shuffled left-anti hash join
    on the key both tables are naturally clustered by (with
    `write_bucketed` both sides co-locate and the exchange disappears —
    see tests/test_bucketed.py). Counts reduce map-side, no row data
    survives the joins, and the four audit numbers remain ONE lazy
    plan via broadcast cross-joins of 1-row aggregates.
    """
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    parts = [
        li.join(
            orders.select("o_orderkey"),
            li.l_orderkey == F.col("o_orderkey"),
            "left_anti",
        ).agg(F.count("*").alias("lineitem_orphans")),
        orders.join(
            F.broadcast(cust.select("c_custkey")),
            orders.o_custkey == F.col("c_custkey"),
            "left_anti",
        ).agg(F.count("*").alias("order_orphans")),
        li.agg(F.countDistinct("l_orderkey").alias("lineitem_orderkeys")),
        orders.agg(F.count("*").alias("order_rows")),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.crossJoin(F.broadcast(p))
    return out


# ---------------------------------------------------------------------------
# Mergeable binned quantile sketch
# ---------------------------------------------------------------------------


@register(
    "quantile_bin_sketch",
    f"""
    WITH binned AS (
      SELECT CAST(floor(CAST(floor(o_totalprice * 100) AS BIGINT)
                        / {BIN_CENTS}) AS BIGINT) AS bin_id,
             count(*) AS n
      FROM orders GROUP BY 1
    ),
    cum AS (
      SELECT bin_id, n,
             CAST(sum(n) OVER (ORDER BY bin_id
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_n,
             CAST(sum(n) OVER () AS BIGINT) AS total_n
      FROM binned
    ),
    q AS (SELECT unnest([{", ".join(str(p) for p in QUANTILE_PCTS)}]) AS pct)
    SELECT q.pct,
           min(c.bin_id) AS bin_id,
           min(c.bin_id) * {BIN_CENTS} AS bin_lo_cents,
           (min(c.bin_id) + 1) * {BIN_CENTS} AS bin_hi_cents
    FROM q JOIN cum c
      ON c.cum_n * 100 >= q.pct * c.total_n
    GROUP BY q.pct
    ORDER BY q.pct
    """,
    "Mergeable histogram quantiles: p50/p90/p99 of order value from "
    "fixed-width bin counts — the sketch shape that replaces a global "
    "sort at scale",
)
def quantile_bin_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate quantiles from an equi-width histogram: per-bin
    counts are a mergeable, fixed-size state (like the HLL sketch in
    plans/timeseries.py), so the quantile query needs one partial-aggregating
    shuffle of ≤1000 bins — where exact `percentile` needs a sort of
    the corpus. Threshold comparison is pure integer
    (`cum*100 >= pct*total`), so bin selection is exact on both
    engines; the answer is the bin bracket, the sketch's honest output.
    """
    orders = _t(spark, sf_dir, "orders")
    binned = (
        orders.select(
            F.floor(
                F.floor(F.col("o_totalprice") * 100).cast("long") / F.lit(BIN_CENTS)
            )
            .cast("long")
            .alias("bin_id")
        )
        .groupBy("bin_id")
        .agg(F.count("*").alias("n"))
    )
    cum = binned.select(
        "bin_id",
        "n",
        F.sum("n")
        .over(W.orderBy("bin_id").rowsBetween(W.unboundedPreceding, W.currentRow))
        .cast("long")
        .alias("cum_n"),
        F.sum("n").over(W.partitionBy()).cast("long").alias("total_n"),
    )
    pcts = spark.range(1).select(
        F.explode(F.array(*[F.lit(p) for p in QUANTILE_PCTS])).alias("pct")
    )
    return (
        pcts.join(
            cum, cum.cum_n * 100 >= F.col("pct") * cum.total_n, "inner"
        )
        .groupBy("pct")
        .agg(F.min("bin_id").alias("bin_id"))
        .select(
            "pct",
            "bin_id",
            (F.col("bin_id") * BIN_CENTS).alias("bin_lo_cents"),
            ((F.col("bin_id") + 1) * BIN_CENTS).alias("bin_hi_cents"),
        )
        .orderBy("pct")
    )


# ---------------------------------------------------------------------------
# Scalar-function parity matrix
# ---------------------------------------------------------------------------

# (case, spark_expr, duckdb_expr, table): each expression AGGREGATES a
# scalar function over a full column, so the matrix proves whole-column
# execution (codegen'd, pushdown-friendly), not literal folding. Spark
# and DuckDB spellings differ where noted; semantics are pinned equal.
_FN_CASES = [
    # -- string functions over customer.c_name ('Customer#000000123') --
    ("upper_min", "min(upper(c_name))", None, "customer"),
    ("substr_len_sum", "sum(length(substr(c_name, 3, 5)))", None, "customer"),
    ("lpad_max", "max(lpad(CAST(c_custkey AS STRING), 12, '0'))",
     "max(lpad(CAST(c_custkey AS VARCHAR), 12, '0'))", "customer"),
    ("replace_len_sum", "sum(length(replace(c_name, '0', '')))", None, "customer"),
    ("reverse_min", "min(reverse(c_name))", None, "customer"),
    ("instr_sum", "sum(instr(c_name, '1'))", None, "customer"),
    ("split_part_min", "min(split_part(c_name, '#', 2))", None, "customer"),
    ("translate_min", "min(translate(c_name, '0123456789', 'abcdefghij'))", None, "customer"),
    ("repeat_len_sum", "sum(length(repeat(substr(c_name, 1, 2), 3)))", None, "customer"),
    ("left_right_min", "min(concat(left(c_name, 3), right(c_name, 2)))", None, "customer"),
    ("ascii_sum", "sum(ascii(c_name))", None, "customer"),
    ("md5_min", "min(md5(c_name))", None, "customer"),
    ("trim_len_sum", "sum(length(trim(concat(' ', c_name, ' '))))", None, "customer"),
    ("chr_min", "min(chr(65 + CAST(c_custkey % 26 AS INT)))",
     "min(chr(CAST(65 + c_custkey % 26 AS INT)))", "customer"),
    ("regexp_strip_min", "min(regexp_replace(c_name, '[0-9]+', ''))",
     "min(regexp_replace(c_name, '[0-9]+', '', 'g'))", "customer"),
    # -- math functions over orders keys/prices --
    ("mod_sum", "sum(mod(o_orderkey, 7))", None, "orders"),
    ("abs_sum", "sum(abs(o_orderkey - 1000))", None, "orders"),
    ("sign_sum", "sum(CAST(sign(o_orderkey - 1000) AS BIGINT))", None, "orders"),
    ("power_sum", "sum(CAST(floor(power(mod(o_orderkey, 5), 2)) AS BIGINT))", None, "orders"),
    ("ceil_floor_sum",
     "sum(CAST(ceil(o_totalprice / 1000) + floor(o_totalprice / 1000) AS BIGINT))",
     None, "orders"),
    ("greatest_least_sum",
     "sum(greatest(mod(o_orderkey, 7), mod(o_orderkey, 11))"
     " - least(mod(o_orderkey, 7), mod(o_orderkey, 11)))", None, "orders"),
    ("sqrt_floor_sum", "sum(CAST(floor(sqrt(o_orderkey) * 1000) AS BIGINT))", None, "orders"),
    ("ln_floor_sum", "sum(CAST(floor(ln(o_orderkey + 1) * 1000000) AS BIGINT))", None, "orders"),
    ("exp_floor_sum", "sum(CAST(floor(exp(mod(o_orderkey, 5)) * 1000) AS BIGINT))", None, "orders"),
    # -- date functions over o_orderdate (stored TIMESTAMP; cast first) --
    ("date_trunc_min", "min(CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE))",
     "min(CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE))", "orders"),
    ("last_day_max", "max(last_day(CAST(o_orderdate AS DATE)))", None, "orders"),
    ("year_month_sum", "sum(year(o_orderdate) * 100 + month(o_orderdate))", None, "orders"),
    ("dow_sum", "sum(dayofweek(CAST(o_orderdate AS DATE)) - 1)",
     "sum(date_part('dow', CAST(o_orderdate AS DATE)))", "orders"),
    ("datediff_sum", "sum(datediff(CAST(o_orderdate AS DATE), DATE '1995-01-01'))",
     "sum(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)))", "orders"),
]


def _fn_matrix_oracle() -> str:
    branches = []
    for case, spark_e, duck_e, table in _FN_CASES:
        e = duck_e or spark_e
        branches.append(
            f"SELECT '{case}' AS fn_case, CAST({e} AS VARCHAR) AS result FROM {table}"
        )
    return "\nUNION ALL\n".join(branches) + "\nORDER BY fn_case"


@register(
    "scalar_function_matrix",
    _fn_matrix_oracle(),
    "Scalar-function parity matrix: 29 string/math/date functions each "
    "aggregated over a full column, one hash-checked row per function",
)
def scalar_function_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Breadth proof for the scalar function surface: every case runs a
    function over a whole column inside one codegen'd aggregate, so the
    matrix certifies execution semantics (collation, 1-based indexing,
    rounding, date arithmetic), not constant folding. Cross-dialect
    spellings (regexp 'g' flag, dow origin, datediff argument order,
    chr typing) are pinned in `_FN_CASES`.

    Scale shape: one scan + one wide aggregate per source table — all
    cases over a table share the scan; the stack unpivot runs on the
    1-row aggregate output.
    """
    by_table: dict[str, list] = {}
    for case, spark_e, _, table in _FN_CASES:
        by_table.setdefault(table, []).append((case, spark_e))
    parts = []
    for table, cases in by_table.items():
        t = _t(spark, sf_dir, table)
        wide = t.agg(
            *[
                F.expr(e).cast("string").alias(f"__{case}")
                for case, e in cases
            ]
        )
        stack_args = ", ".join(f"'{case}', __{case}" for case, _ in cases)
        parts.append(
            wide.select(
                F.expr(
                    f"stack({len(cases)}, {stack_args}) AS (fn_case, result)"
                )
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("fn_case")


# Aggregate-function parity matrix — exact-result aggregates only (the
# streaming-moment aggregates stddev/corr are NOT hash-stable across
# engines; their exact-sum formulations live in grouped_linreg_trend).
_AGG_CASES = [
    ("count_all", "count(*)", None),
    ("count_distinct_mod", "count(DISTINCT c_custkey % 10)", None),
    ("sum_key", "sum(c_custkey)", None),
    ("sum_distinct_mod", "sum(DISTINCT c_custkey % 10)", None),
    ("min_name", "min(c_name)", None),
    ("max_name", "max(c_name)", None),
    ("avg_cents_round",
     "round(avg(CAST(floor(c_acctbal * 100) AS BIGINT)) / 100, 4)", None),
    ("bool_and_nonneg", "bool_and(c_custkey >= 0)", None),
    ("bool_or_large", "bool_or(c_custkey > 100)", None),
    ("bit_and_key", "bit_and(c_custkey)", None),
    ("bit_or_key", "bit_or(c_custkey)", None),
    ("bit_xor_key", "bit_xor(c_custkey)", None),
    ("max_by_key", "max_by(c_name, c_custkey)", None),
    ("min_by_key", "min_by(c_name, c_custkey)", None),
    ("count_if_even", "count_if(c_custkey % 2 = 0)", None),
    ("listagg_sorted",
     "array_join(array_sort(collect_set(substr(c_name, 10, 1))), ',')",
     "array_to_string(list_sort(list(DISTINCT substr(c_name, 10, 1))), ',')"),
]


@register(
    "agg_function_matrix",
    "\nUNION ALL\n".join(
        f"SELECT '{case}' AS fn_case, CAST({duck or spark} AS VARCHAR) AS result FROM customer"
        for case, spark, duck in _AGG_CASES
    )
    + "\nORDER BY fn_case",
    "Aggregate-function parity matrix: 16 exact aggregates (set/bit/"
    "bool/arg-extrema/filtered/ordered-list) over the customer table",
)
def agg_function_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Companion to scalar_function_matrix for the aggregate surface:
    multi-distinct, bitwise, boolean, arg-extrema (`max_by` is
    deterministic here because the ordering key is unique), filtered
    count, and order-canonicalized list aggregation (`collect_set` has
    no order — both engines sort before joining, making the string
    deterministic). One scan, one wide aggregate, stack unpivot.
    """
    cust = _t(spark, sf_dir, "customer")
    wide = cust.agg(
        *[
            F.expr(spark_e).cast("string").alias(f"__{case}")
            for case, spark_e, _ in _AGG_CASES
        ]
    )
    stack_args = ", ".join(f"'{case}', __{case}" for case, _, _ in _AGG_CASES)
    return wide.select(
        F.expr(f"stack({len(_AGG_CASES)}, {stack_args}) AS (fn_case, result)")
    ).orderBy("fn_case")


# ---------------------------------------------------------------------------
# Window-function suite (sequencing / neighbors / tiles / running totals)
# ---------------------------------------------------------------------------


@register(
    "window_rank_suite",
    """
    WITH o AS (
      SELECT o_custkey, o_orderkey, o_orderdate,
             CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    )
    SELECT o_custkey, o_orderkey,
           CAST(row_number() OVER seq AS BIGINT) AS seq,
           cents,
           lag(cents) OVER seq  AS prev_cents,
           lead(cents) OVER seq AS next_cents,
           CAST(ntile(4) OVER (PARTITION BY o_custkey
                               ORDER BY cents, o_orderkey) AS BIGINT)
             AS spend_quartile,
           CAST(sum(cents) OVER (PARTITION BY o_custkey
                                 ORDER BY o_orderdate, o_orderkey
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS running_cents
    FROM o
    WINDOW seq AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
    "Analytic window suite per customer: order sequencing (row_number), "
    "neighbor access (lag/lead), spend quartiles (ntile), and running "
    "totals — the session-feature extraction shape, one shuffle on the "
    "partition key shared by all four window frames",
)
def window_rank_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All four analytic functions share the o_custkey partitioning, so
    the plan is ONE hash exchange followed by two sorts (the two frame
    orderings); no window re-shuffles. Cents integerization keeps
    running sums exact. At 100 TB window width = one customer's orders —
    bounded state per key, no skew risk on this key family."""
    o = _t(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    seq = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    tile = W.partitionBy("o_custkey").orderBy("cents", "o_orderkey")
    run = seq.rowsBetween(W.unboundedPreceding, W.currentRow)
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.row_number().over(seq).cast("long").alias("seq"),
        "cents",
        F.lag("cents").over(seq).alias("prev_cents"),
        F.lead("cents").over(seq).alias("next_cents"),
        F.ntile(4).over(tile).cast("long").alias("spend_quartile"),
        F.sum("cents").over(run).alias("running_cents"),
    )


# ---------------------------------------------------------------------------
# Fuzzy matching via deletion-variant blocking (record linkage)
# ---------------------------------------------------------------------------

FUZZY_DIGITS = 9  # Customer#DDDDDDDDD


@register(
    "fuzzy_name_matching",
    f"""
    WITH names AS (
      SELECT c_custkey AS id, substr(c_name, 10, {FUZZY_DIGITS}) AS d
      FROM customer
    ),
    variants AS (
      SELECT id, d, i,
             substr(d, 1, i) || '*' || substr(d, i + 2) AS vkey
      FROM names, (SELECT unnest(generate_series(0, {FUZZY_DIGITS - 1})) AS i)
    )
    SELECT a.i AS edit_pos, count(*) AS n_pairs,
           CAST(min(a.id) AS BIGINT) AS min_id_a,
           CAST(max(b.id) AS BIGINT) AS max_id_b
    FROM variants a JOIN variants b ON a.vkey = b.vkey AND a.i = b.i
    WHERE a.id < b.id AND a.d <> b.d
    GROUP BY a.i
    """,
    "Record linkage by single-substitution fuzzy match: deletion-variant "
    "blocking (FastSS) — each name emits 9 wildcard variants, pairs "
    "agreeing on a variant differ in exactly that position. Linear "
    "candidate generation, no quadratic all-pairs, no edit-distance UDF",
)
def fuzzy_name_matching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each of the N names explodes into {FUZZY_DIGITS} wildcard keys —
    candidate generation is one equi-join on the variant key, so cost
    scales with the number of true near-matches, never N². The same
    blocking runs any edit-distance-1 workload (spell variants, typo'd
    entity names); here the verify step is free because agreeing on a
    variant while differing as strings IS the edit-1 predicate for the
    substitution case. At 100 TB the variant table is 9x names — a
    shuffle of short strings — and heavy wildcard keys (shared
    boilerplate) would take the MAX_BUCKET-style cap the LSH family
    uses."""
    names = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id"),
        F.substring("c_name", 10, FUZZY_DIGITS).alias("d"),
    )
    variants = names.select(
        "id",
        "d",
        F.posexplode(
            F.array(
                *[
                    F.concat(
                        F.substring("d", 1, i),
                        F.lit("*"),
                        F.substring("d", i + 2, FUZZY_DIGITS),
                    )
                    for i in range(FUZZY_DIGITS)
                ]
            )
        ).alias("i", "vkey"),
    )
    a = variants.select(
        F.col("id").alias("id_a"), F.col("d").alias("d_a"), "i", "vkey"
    )
    b = variants.select(
        F.col("id").alias("id_b"), F.col("d").alias("d_b"), "i", "vkey"
    )
    return (
        a.join(b, ["vkey", "i"])
        .filter((F.col("id_a") < F.col("id_b")) & (F.col("d_a") != F.col("d_b")))
        .groupBy(F.col("i").alias("edit_pos"))
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.min("id_a").cast("long").alias("min_id_a"),
            F.max("id_b").cast("long").alias("max_id_b"),
        )
    )


# ---------------------------------------------------------------------------
# variant_shred_extract (Spark 4 VARIANT semi-structured path)
# ---------------------------------------------------------------------------


@register(
    "variant_shred_extract",
    """
    WITH j AS (
      SELECT json_object(
               'et', event_type,
               'tags', json_array(user_id % 5, event_id % 7),
               'meta', json_object('k', CAST(json_extract_string(props, '$.k')
                                             AS BIGINT),
                                   'v', ROUND(value, 3))
             ) AS doc
      FROM events
    )
    SELECT CAST(json_extract_string(doc, '$.et') AS VARCHAR) AS et,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(json_extract(doc, '$.tags[1]') AS BIGINT)) AS BIGINT)
             AS sum_tag1,
           CAST(sum(CAST(json_extract(doc, '$.meta.k') AS BIGINT)) AS BIGINT)
             AS sum_k,
           ROUND(sum(CAST(json_extract(doc, '$.meta.v') AS DOUBLE)), 2)
             AS sum_v
    FROM j GROUP BY 1
    """,
    "Spark 4 VARIANT semi-structured pipeline: nested JSON docs parsed "
    "with parse_json into VARIANT, typed path extraction via "
    "variant_get (array index + nested object) — the open-schema "
    "ingestion path that skips full shredding; oracle = DuckDB "
    "json_extract over identically constructed docs",
)
def variant_shred_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beyond-parity: the reference stores complex values as JSON text
    (B9, `DucklakeTableManager.java:419-423`); VARIANT is the Spark-4
    evolution of that storage decision — binary semi-structured
    encoding with typed lazy extraction, no per-query from_json schema.
    Plan: one scan, row-local parse+extract inside codegen'd project,
    tiny groupBy. ROUND(value,3) inside the doc pins float-to-JSON
    formatting drift out of the comparison."""
    ev = _t(spark, sf_dir, "events")
    doc = F.to_json(
        F.struct(
            F.col("event_type").alias("et"),
            F.array(
                (F.col("user_id") % 5).cast("long"),
                (F.col("event_id") % 7).cast("long"),
            ).alias("tags"),
            F.struct(
                F.get_json_object("props", "$.k").cast("long").alias("k"),
                F.round(F.col("value"), 3).alias("v"),
            ).alias("meta"),
        )
    )
    v = ev.select(F.parse_json(doc).alias("v"))
    return (
        v.select(
            F.variant_get("v", "$.et", "string").alias("et"),
            F.variant_get("v", "$.tags[1]", "bigint").alias("tag1"),
            F.variant_get("v", "$.meta.k", "bigint").alias("k"),
            F.variant_get("v", "$.meta.v", "double").alias("val"),
        )
        .groupBy("et")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("tag1").alias("sum_tag1"),
            F.sum("k").alias("sum_k"),
            F.round(F.sum("val"), 2).alias("sum_v"),
        )
    )


# ---------------------------------------------------------------------------
# Bucketed co-located join (shuffle-free repeated joins)
# ---------------------------------------------------------------------------

N_BUCKETS = 8


def write_bucketed(df: DataFrame, key: str, name: str, path: str) -> None:
    """Bucketed + sorted parquet table via the session catalog: both the
    hash-bucket layout and per-file sort order are recorded in table
    metadata, so later equi-joins on ``key`` between two such tables
    need NO exchange and NO sort — the scan itself satisfies the join's
    distribution and ordering requirements."""
    (
        df.write.format("parquet")
        .bucketBy(N_BUCKETS, key)
        .sortBy(key)
        .option("path", path)
        .mode("overwrite")
        .saveAsTable(name)
    )


def bucketed_join_frames(spark: SparkSession, sf_dir: str):
    """Build-phase: bucket orders and customer on the join key; return
    (joined_df, plain_join_df) for plan/equivalence checks."""
    tag = uuid.uuid4().hex[:8]
    base = _scratch_dir("bkt")
    orders = _t(spark, sf_dir, "orders").select(
        "o_custkey", F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents")
    )
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    ot, ct = f"orders_bkt_{tag}", f"customer_bkt_{tag}"
    write_bucketed(orders, "o_custkey", ot, os.path.join(base, "orders"))
    write_bucketed(
        cust.withColumnRenamed("c_custkey", "o_custkey"), "o_custkey",
        ct, os.path.join(base, "customer"),
    )
    bo, bc = spark.table(ot), spark.table(ct)
    # hint("merge"): without it the planner broadcasts the small side at
    # test scale and never reads the bucket metadata; at 100 TB neither
    # side is broadcastable and SMJ-over-buckets is the real plan shape
    joined = bo.hint("merge").join(bc.hint("merge"), "o_custkey")
    # the frames hold the resolved relations (files and bucket spec), so
    # the catalog entries can go: repeated builds leave no table behind.
    # Both are external (path=), so dropping them keeps their files.
    for name in (ot, ct):
        spark.sql(f"DROP TABLE {name}")
    plain = orders.join(
        cust.withColumnRenamed("c_custkey", "o_custkey"), "o_custkey"
    )
    return joined, plain


@register(
    "bucketed_colocated_join",
    """
    SELECT c_mktsegment,
           count(*) AS n_orders,
           CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS revenue_cents
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
    "Customer-orders revenue by market segment through BUCKETED tables: "
    "both sides pre-hashed into 8 buckets on the join key, so the join "
    "runs with zero exchanges — the co-location strategy for any join "
    "repeated often enough to amortize one bucketed write",
)
def bucketed_colocated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The repeated-join answer at 100 TB: shuffling a 100 TB fact for
    every join is the bottleneck; bucketing pays that shuffle ONCE at
    write time and every subsequent equi-join on the bucket key is
    exchange-free (scan → join). The build here is the one-time cost;
    the query plan over the bucketed tables contains no Exchange before
    the join (asserted in tests/test_bucketed.py). The final group-by
    aggregates 5 segments — its exchange moves 5 rows per partition."""
    joined, _ = bucketed_join_frames(spark, sf_dir)
    return joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("cents").alias("revenue_cents"),
    )
