"""Time-series / product-analytics queries, round 5 (third wave):
retention cohorts, session assembly, gap-filled hourly series with
LOCF, a hypertable-style multi-granularity rollup, per-group trend
regression, a pivoted daily event matrix, and event-stream monitors:
a HyperLogLog distinct sketch, median/MAD outliers, hourly rate
anomalies, hot-key skew, salted aggregation and PSI drift.

These are the operators a TimescaleDB/ClickHouse-style analytics user
expects on top of the ingested `events` hypertable (the reference's
output tables are exactly such event streams).

Determinism contract (same as plans/queries.py): time becomes integer
epoch-microsecond arithmetic (`epoch_us_col` ↔ DuckDB
``epoch_us(CAST(ts AS TIMESTAMP))``), money becomes integer cents per
row BEFORE aggregation, so every hash compare is exact.

Scale notes are per-query docstrings; the shared principle: aggregate
to the coarsest grain FIRST (one shuffle over the fact), then run the
analytical step (grouping-set expansion, gap-fill join, regression
sums) over the already-small aggregate.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from .queries import _t, epoch_us_col, register


def h60_col(c: Column) -> Column:
    """First 60 bits of md5 as BIGINT — bit-identical to h60_sql, so
    hash-based plans compare exactly against their oracle SQL."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def h60_sql(expr: str) -> str:
    return f"CAST(CONCAT('0x', substr(md5({expr}), 1, 15)) AS BIGINT)"


US_PER_HOUR = 3_600_000_000
US_PER_DAY = 86_400_000_000
SESSION_GAP_US = 30 * 60 * 1_000_000  # 30 min


def _cents(col: str = "value") -> F.Column:
    return F.floor(F.col(col) * 100).cast("long")


CENTS_SQL = "CAST(floor(value * 100) AS BIGINT)"
EPOCH_US_SQL = "epoch_us(CAST(ts AS TIMESTAMP))"


# ---------------------------------------------------------------------------
# Retention cohorts
# ---------------------------------------------------------------------------


@register(
    "retention_cohorts",
    f"""
    WITH uw AS (
      SELECT DISTINCT user_id,
             CAST(floor({EPOCH_US_SQL} / ({US_PER_DAY} * 7.0)) AS BIGINT) AS week
      FROM events
    ),
    c AS (
      SELECT week, min(week) OVER (PARTITION BY user_id) AS cohort_week
      FROM uw
    )
    SELECT cohort_week,
           week - cohort_week AS week_offset,
           count(*) AS n_active
    FROM c
    GROUP BY cohort_week, week_offset
    ORDER BY cohort_week, week_offset
    """,
    "Weekly retention triangle: users cohorted by first-active week, "
    "active-user counts at each week offset",
)
def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic retention triangle over the events stream.

    Scale shape: the fact collapses to DISTINCT (user, week) in one
    partially-aggregated shuffle — everything after runs on
    |users|·|weeks| rows, not events. The cohort week comes from a
    window min over the SAME rows (no self-join, no second fact scan —
    the join formulation scans the fact twice). The final groupBy
    output is |weeks|² rows regardless of corpus size.
    """
    ev = _t(spark, sf_dir, "events")
    week = F.floor(epoch_us_col(ev, "ts") / (US_PER_DAY * 7.0)).cast("long")
    uw = ev.select(F.col("user_id"), week.alias("week")).distinct()
    cohort_week = F.min("week").over(W.partitionBy("user_id"))
    return (
        uw.select("week", cohort_week.alias("cohort_week"))
        .groupBy("cohort_week", (F.col("week") - F.col("cohort_week")).alias("week_offset"))
        .agg(F.count("*").alias("n_active"))
        .orderBy("cohort_week", "week_offset")
    )


# ---------------------------------------------------------------------------
# Session assembly (gap > 30 min starts a new session)
# ---------------------------------------------------------------------------


@register(
    "session_assembly",
    f"""
    WITH seq AS (
      SELECT user_id, event_id, event_type, {EPOCH_US_SQL} AS us,
             CASE WHEN {EPOCH_US_SQL}
                       - lag({EPOCH_US_SQL}) OVER w > {SESSION_GAP_US}
                       OR lag({EPOCH_US_SQL}) OVER w IS NULL
                  THEN 1 ELSE 0 END AS starts
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY {EPOCH_US_SQL}, event_id)
    ),
    sess AS (
      SELECT *, CAST(sum(starts) OVER (PARTITION BY user_id
                                       ORDER BY us, event_id
                                       ROWS UNBOUNDED PRECEDING) AS BIGINT)
                  AS session_ord
      FROM seq
    )
    SELECT user_id, session_ord,
           count(*) AS n_events,
           max(us) - min(us) AS duration_us,
           min(event_id) AS first_event_id,
           max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
             AS has_purchase
    FROM sess
    GROUP BY user_id, session_ord
    ORDER BY user_id, session_ord
    """,
    "Sessionization: 30-min-gap session ids via lag + running sum, then "
    "per-session event count, duration, and purchase-conversion flag",
)
def session_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assigns session ordinals with the standard two-window idiom
    (gap flag via lag, session id via running sum of flags) and rolls
    each session up.

    Scale shape: both windows share ONE exchange (same partitioning by
    user_id, same ordering — Spark plans a single sort + two window
    operators back to back). The terminal groupBy on (user_id,
    session_ord) is a strict refinement of the window partitioning, so
    the only data movement is the initial user-keyed shuffle. Ties are
    broken by event_id so replays order identically.
    """
    ev = _t(spark, sf_dir, "events")
    us = epoch_us_col(ev, "ts")
    seq = ev.select(
        "user_id", "event_id", "event_type", us.alias("us")
    )
    w = W.partitionBy("user_id").orderBy("us", "event_id")
    prev = F.lag("us").over(w)
    starts = F.when(
        prev.isNull() | ((F.col("us") - prev) > SESSION_GAP_US), 1
    ).otherwise(0)
    sess = seq.withColumn("starts", starts).withColumn(
        "session_ord",
        F.sum("starts").over(w.rowsBetween(W.unboundedPreceding, W.currentRow)),
    )
    return (
        sess.groupBy("user_id", "session_ord")
        .agg(
            F.count("*").alias("n_events"),
            (F.max("us") - F.min("us")).alias("duration_us"),
            F.min("event_id").alias("first_event_id"),
            F.max(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("has_purchase"),
        )
        .orderBy("user_id", "session_ord")
    )


# ---------------------------------------------------------------------------
# Gap-filled hourly series with LOCF
# ---------------------------------------------------------------------------


@register(
    "timeseries_gapfill",
    f"""
    WITH hourly AS (
      SELECT event_type,
             CAST(floor({EPOCH_US_SQL} / {US_PER_HOUR}) AS BIGINT) AS hour_idx,
             count(*) AS n_events,
             sum({CENTS_SQL}) AS sum_cents
      FROM events GROUP BY 1, 2
    ),
    bounds AS (
      SELECT CAST(min(hour_idx) AS BIGINT) AS lo,
             CAST(max(hour_idx) AS BIGINT) AS hi FROM hourly
    ),
    grid AS (
      SELECT t.event_type, g.hour_idx
      FROM (SELECT DISTINCT event_type FROM hourly) t,
           (SELECT unnest(generate_series(lo, hi)) AS hour_idx
              FROM bounds) g
    )
    SELECT grid.event_type, grid.hour_idx,
           COALESCE(h.n_events, 0) AS n_events,
           last_value(CAST(h.sum_cents AS BIGINT) IGNORE NULLS) OVER (
             PARTITION BY grid.event_type ORDER BY grid.hour_idx
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS filled_cents
    FROM grid LEFT JOIN hourly h
      ON h.event_type = grid.event_type AND h.hour_idx = grid.hour_idx
    ORDER BY grid.event_type, grid.hour_idx
    """,
    "Hypertable gap-fill: dense hourly grid per event type, missing "
    "buckets carried forward (LOCF) from the last observed hour",
)
def timeseries_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """time_bucket_gapfill + locf, Spark-first.

    Scale shape: the fact collapses to (type, hour) partial-aggregated
    sums first — the ONLY operator that sees event rows; the aggregate
    is persisted and feeds the bounds row, the distinct-types list, and
    the probe join, so the fact is scanned exactly once. The dense grid
    is |types| × |hours| (data-independent of row count), built from a
    1-row global bounds aggregate cross-joined with the distinct types
    (both broadcast). The LOCF window then runs over grid-sized data.
    ``last_value IGNORE NULLS`` ↔ ``F.last(ignorenulls=True)`` is the
    cross-engine LOCF pair.
    """
    ev = _t(spark, sf_dir, "events")
    hour = F.floor(epoch_us_col(ev, "ts") / F.lit(US_PER_HOUR)).cast("long")
    hourly = (
        ev.select(
            "event_type", hour.alias("hour_idx"), _cents().alias("cents")
        )
        .groupBy("event_type", "hour_idx")
        .agg(F.count("*").alias("n_events"), F.sum("cents").alias("sum_cents"))
    )
    hourly.persist()
    bounds = hourly.agg(
        F.min("hour_idx").alias("lo"), F.max("hour_idx").alias("hi")
    )
    types = hourly.select("event_type").distinct()
    grid = types.crossJoin(F.broadcast(bounds)).select(
        "event_type",
        F.explode(F.sequence(F.col("lo"), F.col("hi"))).alias("hour_idx"),
    )
    locf = W.partitionBy("event_type").orderBy("hour_idx").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    return (
        grid.join(F.broadcast(hourly), ["event_type", "hour_idx"], "left")
        .select(
            "event_type",
            "hour_idx",
            F.coalesce(F.col("n_events"), F.lit(0)).alias("n_events"),
            F.last("sum_cents", ignorenulls=True).over(locf).alias("filled_cents"),
        )
        .orderBy("event_type", "hour_idx")
    )


# ---------------------------------------------------------------------------
# Hypertable multi-granularity rollup (grouping sets over pre-agg)
# ---------------------------------------------------------------------------


@register(
    "hypertable_rollup",
    f"""
    WITH hourly AS (
      SELECT event_type,
             CAST(floor({EPOCH_US_SQL} / {US_PER_DAY}) AS BIGINT) AS day_idx,
             CAST(floor({EPOCH_US_SQL} / {US_PER_HOUR}) AS BIGINT) AS hour_idx,
             count(*) AS n,
             sum({CENTS_SQL}) AS cents
      FROM events GROUP BY 1, 2, 3
    )
    SELECT event_type, day_idx, hour_idx,
           CASE WHEN hour_idx IS NULL THEN 'day' ELSE 'hour' END AS grain,
           CAST(sum(n) AS BIGINT) AS n_events,
           CAST(sum(cents) AS BIGINT) AS sum_cents
    FROM hourly
    GROUP BY GROUPING SETS ((event_type, day_idx),
                            (event_type, day_idx, hour_idx))
    ORDER BY event_type, day_idx, hour_idx NULLS FIRST
    """,
    "Continuous-aggregate rollup: hour AND day grains in one pass via "
    "grouping sets over the hourly pre-aggregate",
)
def hypertable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-granularity rollup the way a continuous aggregate
    maintains it: aggregate the fact to the FINEST grain once (the only
    shuffle that sees event rows), then run grouping-set expansion over
    the hourly aggregate — Spark's Expand doubles grid-sized rows, not
    fact rows. At 100 TB the hourly aggregate is ~4 OOM smaller than
    the corpus, so the rollup cost is the one fact scan.
    """
    ev = _t(spark, sf_dir, "events")
    us = epoch_us_col(ev, "ts")
    hourly = (
        ev.select(
            "event_type",
            F.floor(us / F.lit(US_PER_DAY)).cast("long").alias("day_idx"),
            F.floor(us / F.lit(US_PER_HOUR)).cast("long").alias("hour_idx"),
            _cents().alias("cents"),
        )
        .groupBy("event_type", "day_idx", "hour_idx")
        .agg(F.count("*").alias("n"), F.sum("cents").alias("cents"))
    )
    rolled = (
        hourly.groupingSets(
            [["event_type", "day_idx"], ["event_type", "day_idx", "hour_idx"]],
            "event_type",
            "day_idx",
            "hour_idx",
        )
        .agg(F.sum("n").alias("n_events"), F.sum("cents").alias("sum_cents"))
        .select(
            "event_type",
            "day_idx",
            "hour_idx",
            F.when(F.col("hour_idx").isNull(), "day")
            .otherwise("hour")
            .alias("grain"),
            "n_events",
            "sum_cents",
        )
    )
    return rolled.orderBy("event_type", "day_idx", F.col("hour_idx").asc_nulls_first())


# ---------------------------------------------------------------------------
# Per-group least-squares trend (closed form, integer sums)
# ---------------------------------------------------------------------------


@register(
    "grouped_linreg_trend",
    f"""
    WITH daily AS (
      SELECT event_type,
             CAST(floor({EPOCH_US_SQL} / {US_PER_DAY}) AS BIGINT) AS x,
             count(*) AS y
      FROM events GROUP BY 1, 2
    ),
    sums AS (
      SELECT event_type,
             count(*) AS n,
             CAST(sum(x) AS BIGINT) AS sx,
             CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(x * x) AS BIGINT) AS sxx
      FROM daily GROUP BY event_type
    )
    SELECT event_type, n AS n_days,
           CAST(round(1000000.0 * (n * sxy - sx * sy)
                      / (n * sxx - sx * sx)) AS BIGINT) AS slope_micro
    FROM sums
    ORDER BY event_type
    """,
    "Per-event-type daily-count trend: closed-form least-squares slope "
    "from integer sums (micro-units/day)",
)
def grouped_linreg_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group OLS slope of daily event counts, computed from the
    five classic sums — all BIGINT-exact until the single final
    division (both engines divide the same two exact integers in IEEE
    double, so the rounded micro-slope is identical).

    Scale shape: one fact shuffle to daily counts, then a 5-group
    aggregate over |days|·|types| rows. This is the map-reducible form
    of regression — no per-group iteration, no driver collect.
    """
    ev = _t(spark, sf_dir, "events")
    daily = (
        ev.select(
            "event_type",
            F.floor(epoch_us_col(ev, "ts") / F.lit(US_PER_DAY))
            .cast("long")
            .alias("x"),
        )
        .groupBy("event_type", "x")
        .agg(F.count("*").alias("y"))
    )
    sums = daily.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    n, sx, sy, sxy, sxx = (F.col(c) for c in ("n", "sx", "sy", "sxy", "sxx"))
    slope = F.round(
        1000000.0 * (n * sxy - sx * sy) / (n * sxx - sx * sx)
    ).cast("long")
    return sums.select(
        "event_type", F.col("n").alias("n_days"), slope.alias("slope_micro")
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# Pivoted daily event matrix
# ---------------------------------------------------------------------------

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


@register(
    "pivot_daily_event_matrix",
    f"""
    SELECT CAST(floor({EPOCH_US_SQL} / {US_PER_DAY}) AS BIGINT) AS day_idx,
           {", ".join(
               f"CAST(sum(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END)"
               f" AS BIGINT) AS n_{t}"
               for t in EVENT_TYPES
           )},
           count(*) AS n_total
    FROM events
    GROUP BY day_idx
    ORDER BY day_idx
    """,
    "Daily event-type matrix: pivot with a fixed column set (one "
    "shuffle, no values-discovery job) plus a row total",
)
def pivot_daily_event_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`groupBy().pivot(values=...)` with the value list pinned — the
    explicit list skips Spark's extra distinct-values job AND keeps the
    output schema stable under data drift (an unseen type lands nowhere
    instead of adding a surprise column). Single partial-aggregated
    shuffle; each pivot cell is a map-side conditional count.
    """
    ev = _t(spark, sf_dir, "events")
    day = F.floor(epoch_us_col(ev, "ts") / F.lit(US_PER_DAY)).cast("long")
    pivoted = (
        ev.select(day.alias("day_idx"), "event_type")
        .groupBy("day_idx")
        .pivot("event_type", EVENT_TYPES)
        .agg(F.count(F.lit(1)))
    )
    totals = [F.coalesce(F.col(t), F.lit(0)).alias(f"n_{t}") for t in EVENT_TYPES]
    n_total = sum(
        (F.coalesce(F.col(t), F.lit(0)) for t in EVENT_TYPES), F.lit(0)
    ).alias("n_total")
    return pivoted.select("day_idx", *totals, n_total).orderBy("day_idx")


# ---------------------------------------------------------------------------
# Deterministic HyperLogLog distinct sketch (grouped)
# ---------------------------------------------------------------------------

HLL_P = 8
HLL_M = 1 << HLL_P  # 256 registers
# alpha_m * m^2 for m=256 (Flajolet et al. 2007) — the SAME Python float
# literal is embedded in the Spark plan and the oracle SQL, so both
# engines start from an identical double.
HLL_ALPHA_M2 = repr((0.7213 / (1.0 + 1.079 / HLL_M)) * HLL_M * HLL_M)
HLL_2P53 = 1 << 53  # register scale: sum(2^(53-rho)) stays integer-exact


@register(
    "hll_distinct_sketch",
    f"""
    WITH h AS (
      SELECT event_type,
             {h60_sql('CAST(user_id AS VARCHAR)')} AS hv
      FROM events
    ),
    split AS (
      SELECT event_type, hv % {HLL_M} AS idx, hv >> {HLL_P} AS w FROM h
    ),
    reg AS (
      SELECT event_type, idx,
             max(CASE WHEN w = 0 THEN 53 ELSE 53 - length(bin(w)) END) AS r
      FROM split GROUP BY event_type, idx
    ),
    sk AS (
      SELECT event_type,
             CAST(sum(1::BIGINT << (53 - r)) AS BIGINT)
               + ({HLL_M} - count(*)) * {HLL_2P53}::BIGINT AS s,
             {HLL_M} - count(*) AS v
      FROM reg GROUP BY event_type
    ),
    est AS (
      SELECT event_type, v,
             {HLL_ALPHA_M2} / (CAST(s AS DOUBLE) / {HLL_2P53}) AS e_raw
      FROM sk
    ),
    corrected AS (
      SELECT event_type,
             CASE WHEN e_raw <= 2.5 * {HLL_M} AND v > 0
                  THEN {HLL_M} * ln({HLL_M} / CAST(v AS DOUBLE))
                  ELSE e_raw END AS e
      FROM est
    ),
    exact AS (
      SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
      FROM events GROUP BY event_type
    )
    SELECT exact.event_type, n_exact,
           ROUND(e, 4) AS hll_estimate,
           ROUND((e - n_exact) / n_exact * 100, 4) AS rel_err_pct
    FROM exact JOIN corrected ON exact.event_type = corrected.event_type
    """,
    "Deterministic HyperLogLog (p=8) distinct-user sketch per event "
    "type, register maxima from md5-derived 60-bit hashes — integer "
    "register sums make the normally-approximate sketch bit-identical "
    "across engines; reported against the exact distinct count",
)
def hll_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sketch is ONE map-side-combinable aggregation (register maxima
    over (group, idx) — at most m=256 rows per group survive the map
    side), then a 256-row rollup per group: the mergeable-state shape
    that lets 1000 executors sketch 100 TB with a KB of state per
    group. The exact count here is the verification twin; production
    would drop it. Registers sum as BIGINT 2^(53-rho) terms, so the
    estimate's double arithmetic starts from identical integers in both
    engines; the small-range correction branch compares identical
    doubles."""
    ev = _t(spark, sf_dir, "events")
    hv = h60_col(F.col("user_id").cast("string"))
    split = ev.select(
        "event_type",
        (hv % HLL_M).alias("idx"),
        F.shiftright(hv, HLL_P).alias("w"),
    )
    rho = F.when(F.col("w") == 0, 53).otherwise(
        53 - F.length(F.bin(F.col("w")))
    )
    reg = split.groupBy("event_type", "idx").agg(F.max(rho).alias("r"))
    sk = reg.groupBy("event_type").agg(
        (
            F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), CAST(53 - r AS INT))"))
            + (F.lit(HLL_M) - F.count(F.lit(1))) * F.lit(HLL_2P53)
        )
        .cast("long")
        .alias("s"),
        (F.lit(HLL_M) - F.count(F.lit(1))).alias("v"),
    )
    e_raw = F.lit(float(HLL_ALPHA_M2)) / (
        F.col("s").cast("double") / F.lit(float(HLL_2P53))
    )
    e = F.when(
        (e_raw <= 2.5 * HLL_M) & (F.col("v") > 0),
        F.lit(float(HLL_M)) * F.log(F.lit(float(HLL_M)) / F.col("v").cast("double")),
    ).otherwise(e_raw)
    corrected = sk.select("event_type", e.alias("e"))
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("long").alias("n_exact")
    )
    return exact.join(F.broadcast(corrected), "event_type").select(
        "event_type",
        "n_exact",
        F.round(F.col("e"), 4).alias("hll_estimate"),
        F.round((F.col("e") - F.col("n_exact")) / F.col("n_exact") * 100, 4).alias(
            "rel_err_pct"
        ),
    )


# ---------------------------------------------------------------------------
# Robust outlier detection (median / MAD)
# ---------------------------------------------------------------------------

# 3 * 1.4826 (the normal-consistency constant) as an integer cross-
# multiplication: |dev| * 10000 > 44478 * MAD — float-free flagging.
MAD_K_X10000 = 44478


@register(
    "robust_value_outliers",
    f"""
    WITH ev AS (
      SELECT event_type, CAST(floor(value * 100) AS BIGINT) AS c
      FROM events
    ),
    n AS (SELECT event_type, count(*) AS n FROM ev GROUP BY event_type),
    r1 AS (
      SELECT event_type, c,
             row_number() OVER (PARTITION BY event_type ORDER BY c) AS rn
      FROM ev
    ),
    med AS (
      SELECT r1.event_type, r1.c AS median_cents
      FROM r1 JOIN n ON r1.event_type = n.event_type
      WHERE r1.rn = (n.n + 1) // 2
    ),
    dev AS (
      SELECT ev.event_type, abs(ev.c - med.median_cents) AS d
      FROM ev JOIN med ON ev.event_type = med.event_type
    ),
    r2 AS (
      SELECT event_type, d,
             row_number() OVER (PARTITION BY event_type ORDER BY d) AS rn
      FROM dev
    ),
    mad AS (
      SELECT r2.event_type, r2.d AS mad_cents
      FROM r2 JOIN n ON r2.event_type = n.event_type
      WHERE r2.rn = (n.n + 1) // 2
    )
    SELECT n.event_type, n.n AS n_events,
           med.median_cents, mad.mad_cents,
           (SELECT CAST(sum(CASE WHEN dev.d * 10000 > {MAD_K_X10000} * mad.mad_cents
                         THEN 1 ELSE 0 END) AS BIGINT)
            FROM dev WHERE dev.event_type = n.event_type) AS n_outliers
    FROM n JOIN med ON n.event_type = med.event_type
            JOIN mad ON n.event_type = mad.event_type
    """,
    "Robust outlier detection per event type: lower-median + MAD on "
    "integer cents, outliers flagged by integer cross-multiplication "
    "(3x1.4826 consistency scale) — no float thresholds anywhere",
)
def robust_value_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact order statistics from ONE (event_type, cents) histogram:
    the lower median is the smallest value whose cumulative count
    reaches (n+1)÷2, read off a cumulative window over the histogram;
    the MAD repeats the trick on |c − median| without re-grouping
    (cumulative row frames handle deviation ties correctly). Previously
    two full row_number sorts over all events. The histogram support is
    bounded by the cents domain (~10k values) — corpus-size-INDEPENDENT
    at 100 TB, and mergeable per partition. One SQL statement (same
    Py4J-cost rationale as embedding_outlier_mad)."""
    _t(spark, sf_dir, "events").createOrReplaceTempView("rvo_events")
    return spark.sql(f"""
    WITH hist AS (
      SELECT event_type, CAST(floor(value * 100) AS BIGINT) AS c,
             count(1) AS cnt
      FROM rvo_events GROUP BY event_type, 2
    ),
    m1 AS (
      SELECT *,
             sum(cnt) OVER (PARTITION BY event_type ORDER BY c
                            ROWS UNBOUNDED PRECEDING) AS cum,
             sum(cnt) OVER (PARTITION BY event_type) AS n
      FROM hist
    ),
    m2 AS (
      SELECT *,
             min(CASE WHEN cum >= (n + 1) DIV 2 THEN c END)
               OVER (PARTITION BY event_type) AS median_cents
      FROM m1
    ),
    m3 AS (
      SELECT event_type, c, cnt, n, median_cents,
             abs(c - median_cents) AS d,
             sum(cnt) OVER (PARTITION BY event_type
                            ORDER BY abs(c - median_cents)
                            ROWS UNBOUNDED PRECEDING) AS cum2
      FROM m2
    ),
    m4 AS (
      SELECT *,
             min(CASE WHEN cum2 >= (n + 1) DIV 2 THEN d END)
               OVER (PARTITION BY event_type) AS mad_cents
      FROM m3
    )
    SELECT event_type, sum(cnt) AS n_events, median_cents, mad_cents,
           sum(CASE WHEN d * 10000 > {MAD_K_X10000} * mad_cents
                    THEN cnt ELSE CAST(0 AS BIGINT) END) AS n_outliers
    FROM m4
    GROUP BY event_type, median_cents, mad_cents
    """).select("event_type", "n_events", "median_cents", "mad_cents", "n_outliers")


# ---------------------------------------------------------------------------
# Event-rate anomaly detection (z-score on hourly counts)
# ---------------------------------------------------------------------------

ANOM_Z_NUM = 3  # |count - mean| > 3 * stddev → anomalous hour


@register(
    "event_rate_anomaly",
    f"""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h,
             count(*) AS n
      FROM events GROUP BY 1, 2
    ),
    stats AS (
      SELECT event_type, avg(n) AS mu, stddev_samp(n) AS sigma,
             count(*) AS n_hours
      FROM hourly GROUP BY event_type
    )
    SELECT h.event_type,
           CAST(s.n_hours AS BIGINT) AS n_hours,
           CAST(sum(CASE WHEN abs(h.n - s.mu) > {ANOM_Z_NUM} * s.sigma
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalous,
           CAST(max(h.n) AS BIGINT) AS peak_count
    FROM hourly h JOIN stats s USING (event_type)
    GROUP BY h.event_type, s.n_hours
    """,
    "Event-rate anomaly sweep: hourly counts per event type, hours "
    "beyond 3 sigma of the type's mean flagged — the traffic-spike "
    "monitor of an ingestion pipeline (integer counts → exact stats)",
)
def event_rate_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly pre-aggregation shrinks the fact before anything else;
    per-type stats are a tiny second aggregate broadcast back into the
    flagging join. Counts are integers, so mean/stddev are identical
    doubles on both engines."""
    ev = _t(spark, sf_dir, "events")
    hourly = (
        ev.select("event_type", F.date_trunc("hour", "ts").alias("h"))
        .groupBy("event_type", "h")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    stats = hourly.groupBy("event_type").agg(
        F.avg("n").alias("mu"),
        F.stddev_samp("n").alias("sigma"),
        F.count(F.lit(1)).alias("n_hours"),
    )
    return (
        hourly.join(F.broadcast(stats), "event_type")
        .groupBy("event_type", "n_hours")
        .agg(
            F.sum(
                F.when(
                    F.abs(F.col("n") - F.col("mu"))
                    > ANOM_Z_NUM * F.col("sigma"),
                    1,
                ).otherwise(0)
            ).alias("n_anomalous"),
            F.max("n").alias("peak_count"),
        )
        .select("event_type", "n_hours", "n_anomalous", "peak_count")
    )


# ---------------------------------------------------------------------------
# Hot-key skew diagnostics
# ---------------------------------------------------------------------------


@register(
    "key_skew_profile",
    """
    WITH per_key AS (
      SELECT event_type, user_id, count(*) AS n
      FROM events GROUP BY event_type, user_id
    ),
    prof AS (
      SELECT event_type,
             count(*) AS n_keys,
             CAST(sum(n) AS BIGINT) AS n_events,
             max(n) AS max_key_n,
             ROUND(quantile_cont(n, 0.5), 6) AS p50_key_n,
             ROUND(quantile_cont(n, 0.99), 6) AS p99_key_n
      FROM per_key GROUP BY event_type
    )
    SELECT event_type, n_keys, n_events, max_key_n, p50_key_n, p99_key_n,
           CAST(ROUND(max_key_n * 1000000.0 / n_events) AS BIGINT)
             AS hot_share_micro,
           CAST(ROUND(CAST(max_key_n AS DOUBLE) * n_keys * 1000000.0
                      / n_events) AS BIGINT) AS skew_ratio_micro
    FROM prof ORDER BY event_type
    """,
    "Hot-key skew diagnostics per event type: per-key count "
    "distribution (max, p50, p99), the hottest key's share of rows, "
    "and max/avg skew ratio (both integer micros) — the pre-flight "
    "numbers for choosing salting / AQE skew-join handling",
)
def key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level aggregate: per-(type, key) counts shuffle once (fully
    map-side combinable), then a tiny per-type rollup over key counts —
    state ∝ distinct keys, never rows. This is the diagnostic run
    BEFORE a big keyed join/agg at 100 TB: skew_ratio_micro ≈ 1e6
    means uniform keys (plain hash shuffle is fine); a hot key showing
    up here is the signal to salt (``skewed_event_stats_salted``) or
    rely on AQE skew splitting."""
    ev = _t(spark, sf_dir, "events")
    per_key = ev.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).alias("n")
    )
    prof = per_key.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("n").cast("long").alias("n_events"),
        F.max("n").alias("max_key_n"),
        F.round(F.percentile("n", F.lit(0.5)), 6).alias("p50_key_n"),
        F.round(F.percentile("n", F.lit(0.99)), 6).alias("p99_key_n"),
    )
    return prof.select(
        "event_type",
        "n_keys",
        "n_events",
        "max_key_n",
        "p50_key_n",
        "p99_key_n",
        F.round(F.col("max_key_n") * 1000000.0 / F.col("n_events"), 0)
        .cast("long")
        .alias("hot_share_micro"),
        F.round(
            F.col("max_key_n").cast("double")
            * F.col("n_keys")
            * 1000000.0
            / F.col("n_events"),
            0,
        )
        .cast("long")
        .alias("skew_ratio_micro"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# Skew-resistant aggregation (salted two-phase)
# ---------------------------------------------------------------------------


@register(
    "skewed_event_stats_salted",
    """
    SELECT event_type,
           count(*) AS n,
           CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
             AS value_cents,
           min(event_id) AS first_id,
           max(event_id) AS last_id
    FROM events
    GROUP BY event_type
    """,
    "Hot-key aggregation through the salted two-phase operator: 5 event "
    "types fan out over 16 salts before merging, so no reducer owns a "
    "whole key — results identical to the plain GROUP BY the oracle runs",
)
def skewed_event_stats_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drives operators/skew.py::salted_aggregate: partials on
    (event_type, salt), merge on event_type. The oracle is the PLAIN
    aggregate — proving the salt changes only the physical distribution.
    Values integerize to cents per row so the two-phase addition order
    cannot drift."""
    from ..operators.skew import salted_aggregate

    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    )
    return salted_aggregate(
        ev,
        ["event_type"],
        {
            "n": ("count", "cents"),
            "value_cents": ("sum", "cents"),
            "first_id": ("min", "event_id"),
            "last_id": ("max", "event_id"),
        },
    )


# ---------------------------------------------------------------------------
# PSI feature drift (population stability index)
# ---------------------------------------------------------------------------

PSI_BINS = 10


@register(
    "psi_feature_drift",
    f"""
    WITH bounds AS (
      SELECT min(value) AS vmin, max(value) AS vmax,
             min(epoch_us(CAST(ts AS TIMESTAMP))) AS tmin,
             max(epoch_us(CAST(ts AS TIMESTAMP))) AS tmax
      FROM events
    ),
    binned AS (
      SELECT event_type,
             CASE WHEN epoch_us(CAST(ts AS TIMESTAMP)) * 2
                       <= bounds.tmin + bounds.tmax
                  THEN 0 ELSE 1 END AS half,
             LEAST({PSI_BINS - 1}, CAST(FLOOR((value - bounds.vmin)
                   * {PSI_BINS} / (bounds.vmax - bounds.vmin + 1e-9))
                   AS BIGINT)) AS bin
      FROM events CROSS JOIN bounds
    ),
    cells AS (
      SELECT event_type, half, bin, count(*) AS c
      FROM binned GROUP BY event_type, half, bin
    ),
    halves AS (
      SELECT event_type, half, CAST(sum(c) AS BIGINT) AS n
      FROM cells GROUP BY event_type, half
    ),
    grid AS (
      SELECT h0.event_type, g.bin,
             COALESCE(c0.c, 0) AS c_p, h0.n AS n_p,
             COALESCE(c1.c, 0) AS c_q, h1.n AS n_q
      FROM (SELECT event_type, n FROM halves WHERE half = 0) h0
      JOIN (SELECT event_type, n FROM halves WHERE half = 1) h1
        ON h0.event_type = h1.event_type
      CROSS JOIN (SELECT unnest(generate_series(0, {PSI_BINS - 1})) AS bin) g
      LEFT JOIN cells c0 ON c0.event_type = h0.event_type
        AND c0.half = 0 AND c0.bin = g.bin
      LEFT JOIN cells c1 ON c1.event_type = h0.event_type
        AND c1.half = 1 AND c1.bin = g.bin
    ),
    terms AS (
      SELECT event_type,
             CAST(ROUND(((c_p + 1.0) / (n_p + {PSI_BINS})
                         - (c_q + 1.0) / (n_q + {PSI_BINS}))
                        * ln(((c_p + 1.0) * (n_q + {PSI_BINS}))
                             / ((c_q + 1.0) * (n_p + {PSI_BINS})))
                        * 1000000) AS BIGINT) AS t_micro
      FROM grid
    )
    SELECT event_type, CAST(sum(t_micro) AS BIGINT) AS psi_micro
    FROM terms GROUP BY event_type ORDER BY event_type
    """,
    f"Population stability index per event type: value distribution of "
    f"the first time-half vs the second over {PSI_BINS} equal-width "
    "bins (Laplace-smoothed, per-bin terms integerized to micro-nats) "
    "— the standard feature-drift monitor",
)
def psi_feature_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One scan computes global bounds (1-row broadcast), a second
    bins every event — state from there is |types|×2×B cells. The PSI
    grid densifies with a generated bin spine so empty bins still
    contribute their smoothed mass, exactly as the textbook formula
    requires."""
    from .queries import epoch_us_col

    ev = _t(spark, sf_dir, "events")
    eus = epoch_us_col(ev, "ts")
    bounds = ev.agg(
        F.min("value").alias("vmin"),
        F.max("value").alias("vmax"),
        F.min(eus).alias("tmin"),
        F.max(eus).alias("tmax"),
    )
    binned = ev.crossJoin(F.broadcast(bounds)).select(
        "event_type",
        F.when(
            eus * 2 <= F.col("tmin") + F.col("tmax"), 0
        ).otherwise(1).alias("half"),
        F.least(
            F.lit(PSI_BINS - 1),
            F.floor(
                (F.col("value") - F.col("vmin"))
                * PSI_BINS
                / (F.col("vmax") - F.col("vmin") + F.lit(1e-9))
            ),
        )
        .cast("long")
        .alias("bin"),
    )
    cells = binned.groupBy("event_type", "half", "bin").agg(
        F.count(F.lit(1)).alias("c")
    )
    cells.persist()
    halves = cells.groupBy("event_type", "half").agg(
        F.sum("c").cast("long").alias("n")
    )
    h0 = halves.filter("half = 0").select("event_type", F.col("n").alias("n_p"))
    h1 = halves.filter("half = 1").select("event_type", F.col("n").alias("n_q"))
    spine = spark.range(PSI_BINS).select(F.col("id").alias("bin"))
    c0 = cells.filter("half = 0").select(
        "event_type", "bin", F.col("c").alias("c_p")
    )
    c1 = cells.filter("half = 1").select(
        "event_type", "bin", F.col("c").alias("c_q")
    )
    grid = (
        h0.join(h1, "event_type")
        .crossJoin(F.broadcast(spine))
        .join(c0, ["event_type", "bin"], "left")
        .join(c1, ["event_type", "bin"], "left")
        .select(
            "event_type",
            F.coalesce(F.col("c_p"), F.lit(0)).alias("c_p"),
            "n_p",
            F.coalesce(F.col("c_q"), F.lit(0)).alias("c_q"),
            "n_q",
        )
    )
    nb = F.lit(float(PSI_BINS))
    term = F.round(
        (
            (F.col("c_p") + F.lit(1.0)) / (F.col("n_p") + nb)
            - (F.col("c_q") + F.lit(1.0)) / (F.col("n_q") + nb)
        )
        * F.log(
            ((F.col("c_p") + F.lit(1.0)) * (F.col("n_q") + nb))
            / ((F.col("c_q") + F.lit(1.0)) * (F.col("n_p") + nb))
        )
        * 1000000.0,
        0,
    ).cast("long")
    return (
        grid.select("event_type", term.alias("t_micro"))
        .groupBy("event_type")
        .agg(F.sum("t_micro").cast("long").alias("psi_micro"))
        .orderBy("event_type")
    )
