"""Semantic invariants for the time-series / product-analytics wave
(plans/timeseries.py). The DuckDB oracle twin (test_entry_oracle) pins
cross-engine equality; these pin the SEMANTICS — properties that could
hold identically-wrong on both engines if a formulation slipped.
"""

import duckdb
import pytest
from pyspark.sql import functions as F

from ducklake_kafka_connect_spark.plans.timeseries import (
    HLL_2P53,
    HLL_ALPHA_M2,
    HLL_M,
    HLL_P,
    MAD_K_X10000,
    SESSION_GAP_US,
    h60_col,
    h60_sql,
)
from ducklake_kafka_connect_spark.plans.queries import QUERIES

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{SF_DIR}/events.parquet')"
    )
    yield con
    con.close()


class TestRetentionCohorts:
    def test_offset_zero_counts_whole_cohort(self, spark):
        rows = QUERIES["retention_cohorts"].fn(spark, SF_DIR).collect()
        by_cohort = {}
        for r in rows:
            by_cohort.setdefault(r.cohort_week, {})[r.week_offset] = r.n_active
        assert by_cohort, "no cohorts"
        for cohort, offs in by_cohort.items():
            assert 0 in offs, f"cohort {cohort} missing offset 0"
            # retention can never exceed the cohort's own size
            assert all(n <= offs[0] for n in offs.values())
            assert all(o >= 0 for o in offs)

    def test_cohort_sizes_partition_users(self, spark, ddb):
        rows = QUERIES["retention_cohorts"].fn(spark, SF_DIR).collect()
        total_at_zero = sum(r.n_active for r in rows if r.week_offset == 0)
        n_users = ddb.execute("SELECT count(DISTINCT user_id) FROM events").fetchone()[0]
        assert total_at_zero == n_users


class TestSessionAssembly:
    def test_sessions_respect_gap(self, spark, ddb):
        """No within-session gap exceeds the threshold, and consecutive
        sessions of one user are separated by MORE than the threshold."""
        sess = QUERIES["session_assembly"].fn(spark, SF_DIR).collect()
        ev = ddb.execute(
            "SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us "
            "FROM events ORDER BY user_id, us"
        ).fetchall()
        by_user = {}
        for u, us in ev:
            by_user.setdefault(u, []).append(us)
        # independent re-derivation of session count per user
        for u, times in by_user.items():
            n_sessions = 1 + sum(
                1 for a, b in zip(times, times[1:]) if b - a > SESSION_GAP_US
            )
            got = [s for s in sess if s.user_id == u]
            assert len(got) == n_sessions, f"user {u}"
            assert sum(s.n_events for s in got) == len(times)
            # session ordinals are 1..n
            assert sorted(s.session_ord for s in got) == list(
                range(1, n_sessions + 1)
            )

    def test_durations_nonnegative(self, spark):
        sess = QUERIES["session_assembly"].fn(spark, SF_DIR).collect()
        assert all(s.duration_us >= 0 for s in sess)
        single = [s for s in sess if s.n_events == 1]
        assert all(s.duration_us == 0 for s in single)


class TestGapfill:
    def test_grid_is_dense_and_locf_fills(self, spark):
        rows = QUERIES["timeseries_gapfill"].fn(spark, SF_DIR).collect()
        by_type = {}
        for r in rows:
            by_type.setdefault(r.event_type, []).append(r)
        for t, series in by_type.items():
            hours = [r.hour_idx for r in series]
            assert hours == list(range(min(hours), max(hours) + 1)), t
            # at sf0.001 (1000 events / ~3600 type-hours) gaps MUST exist
            gaps = [r for r in series if r.n_events == 0]
            assert gaps, f"no gaps at test scale for {t} — gapfill untested"
            # every gap after the first observation carries a filled value
            seen_obs = False
            for r in series:
                if r.n_events > 0:
                    seen_obs = True
                    assert r.filled_cents is not None
                elif seen_obs:
                    assert r.filled_cents is not None, f"LOCF hole at {t}/{r.hour_idx}"

    def test_observed_buckets_keep_own_value(self, spark, ddb):
        rows = QUERIES["timeseries_gapfill"].fn(spark, SF_DIR).collect()
        truth = dict(
            ((t, h), c)
            for t, h, c in ddb.execute(
                "SELECT event_type, "
                "  CAST(floor(epoch_us(CAST(ts AS TIMESTAMP)) / 3600000000) AS BIGINT),"
                "  sum(CAST(floor(value*100) AS BIGINT)) "
                "FROM events GROUP BY 1, 2"
            ).fetchall()
        )
        for r in rows:
            if r.n_events > 0:
                assert r.filled_cents == truth[(r.event_type, r.hour_idx)]


class TestRollupAndTrend:
    def test_day_rows_equal_sum_of_hours(self, spark):
        rows = QUERIES["hypertable_rollup"].fn(spark, SF_DIR).collect()
        days = {}
        hour_sums = {}
        for r in rows:
            key = (r.event_type, r.day_idx)
            if r.grain == "day":
                days[key] = (r.n_events, r.sum_cents)
            else:
                n, c = hour_sums.get(key, (0, 0))
                hour_sums[key] = (n + r.n_events, c + r.sum_cents)
        assert days and days == hour_sums

    def test_trend_slope_matches_numpy_lstsq(self, spark):
        import numpy as np

        rows = QUERIES["grouped_linreg_trend"].fn(spark, SF_DIR).collect()
        daily = QUERIES["hypertable_rollup"].fn(spark, SF_DIR).collect()
        for r in rows:
            pts = [
                (d.day_idx, d.n_events)
                for d in daily
                if d.grain == "day" and d.event_type == r.event_type
            ]
            x = np.array([p[0] for p in pts], dtype=float)
            y = np.array([p[1] for p in pts], dtype=float)
            slope = np.polyfit(x, y, 1)[0]
            assert abs(slope * 1e6 - r.slope_micro) < 1.0, r.event_type


class TestPivotAndProjection:
    def test_pivot_row_totals(self, spark, ddb):
        rows = QUERIES["pivot_daily_event_matrix"].fn(spark, SF_DIR).collect()
        n_events = ddb.execute("SELECT count(*) FROM events").fetchone()[0]
        assert sum(r.n_total for r in rows) == n_events
        for r in rows:
            assert r.n_click + r.n_error + r.n_purchase + r.n_signup + r.n_view == r.n_total


def test_hash60_matches_duckdb_convention(spark):
    got = spark.range(1).select(h60_col(F.lit("hello")).alias("h")).collect()[0]["h"]
    want = duckdb.sql("SELECT " + h60_sql("'hello'")).fetchone()[0]
    assert got == want


# HyperLogLog and median/MAD oracle formulations of hll_distinct_sketch
# and robust_value_outliers, stressed in DuckDB alone across regimes the
# driver testdata doesn't reach — cheap, deterministic, no SparkSession.


def _hll_estimate(con, n_distinct: int) -> float:
    """Run the exact oracle register pipeline over 1..n_distinct."""
    q = f"""
    WITH ids AS (SELECT unnest(generate_series(1, {n_distinct})) AS uid),
    h AS (SELECT {h60_sql('CAST(uid AS VARCHAR)')} AS hv FROM ids),
    split AS (SELECT hv % {HLL_M} AS idx, hv >> {HLL_P} AS w FROM h),
    reg AS (
      SELECT idx,
             max(CASE WHEN w = 0 THEN 53 ELSE 53 - length(bin(w)) END) AS r
      FROM split GROUP BY idx
    ),
    sk AS (
      SELECT CAST(sum(1::BIGINT << (53 - r)) AS BIGINT)
               + ({HLL_M} - count(*)) * {HLL_2P53}::BIGINT AS s,
             {HLL_M} - count(*) AS v
      FROM reg
    )
    SELECT CASE WHEN {HLL_ALPHA_M2} / (CAST(s AS DOUBLE) / {HLL_2P53})
                     <= 2.5 * {HLL_M} AND v > 0
                THEN {HLL_M} * ln({HLL_M} / CAST(v AS DOUBLE))
                ELSE {HLL_ALPHA_M2} / (CAST(s AS DOUBLE) / {HLL_2P53}) END
    FROM sk
    """
    return con.execute(q).fetchone()[0]


@pytest.mark.parametrize("n", [10, 100, 1000, 10000, 100000])
def test_hll_relative_error_across_cardinalities(n):
    """p=8 HLL has ~6.5% std error; deterministic hashes make each point
    a fixed number — bound generously at 20% and pin that the estimate
    scales with the true count (monotone sanity is covered by the range)."""
    con = duckdb.connect()
    est = _hll_estimate(con, n)
    assert abs(est - n) / n < 0.20, (n, est)


def test_hll_small_range_correction_branch():
    """Tiny cardinalities must route through linear counting (the branch
    where E_raw <= 2.5m and empty registers exist) and land near-exact."""
    con = duckdb.connect()
    for n in (1, 5, 25):
        est = _hll_estimate(con, n)
        assert abs(est - n) <= max(1.0, 0.1 * n), (n, est)


def test_mad_flag_integer_arithmetic_matches_float_form():
    """|dev|*10000 > 44478*mad must agree with the float 3*1.4826
    threshold away from exact-boundary devs (the integer form exists so
    both engines agree AT boundaries; here we pin it to the intended
    statistics on a spread of values)."""
    k = MAD_K_X10000 / 10000.0
    mad = 37
    for dev in range(0, 500):
        int_flag = dev * 10000 > MAD_K_X10000 * mad
        float_flag = dev > k * mad
        assert int_flag == float_flag, (dev, mad)


def test_mad_zero_mad_flags_any_deviation():
    """Degenerate distributions (over half the values identical) give
    MAD=0; the integer comparison then flags every nonzero deviation —
    the conventional MAD-outlier behavior."""
    con = duckdb.connect()
    q = f"""
    WITH ev AS (
      SELECT CASE WHEN i <= 60 THEN 100 ELSE 100 + i END AS c
      FROM (SELECT unnest(generate_series(1, 100)) AS i)
    ),
    n AS (SELECT count(*) AS n FROM ev),
    r1 AS (SELECT c, row_number() OVER (ORDER BY c) AS rn FROM ev),
    med AS (SELECT c AS m FROM r1, n WHERE rn = (n.n + 1) // 2),
    dev AS (SELECT abs(c - (SELECT m FROM med)) AS d FROM ev),
    r2 AS (SELECT d, row_number() OVER (ORDER BY d) AS rn FROM dev),
    mad AS (SELECT d AS md FROM r2, n WHERE rn = (n.n + 1) // 2)
    SELECT (SELECT md FROM mad),
           (SELECT count(*) FROM dev
            WHERE d * 10000 > {MAD_K_X10000} * (SELECT md FROM mad))
    """
    mad_val, n_out = duckdb.connect().execute(q).fetchone()
    assert mad_val == 0
    assert n_out == 40  # every non-identical value flags


# DuckDB-only checks of the psi_feature_drift and key_skew_profile
# oracle SQL over crafted inputs; the sf0.001/sf0.01 parity is covered
# by test_entry_oracle.py.


class TestDriftMonitors:
    def _con_events(self, rows):
        import duckdb as _d

        con = _d.connect()
        vals = ", ".join(
            f"({i}, TIMESTAMP '2024-01-01 00:00:00' + INTERVAL ({m}) MINUTE,"
            f" {i % 7}, '{et}', {v}, '{{}}')"
            for i, (m, et, v) in enumerate(rows)
        )
        con.execute(
            "CREATE VIEW events AS SELECT * FROM (VALUES "
            f"{vals}) AS t(event_id, ts, user_id, event_type, value, props)"
        )
        return con

    def test_psi_zero_for_identical_halves_positive_for_shift(self):
        rows = []
        # type 'same': identical value distribution in both time halves
        for m in range(20):
            rows.append((m, "same", float(m % 5)))
            rows.append((m + 1000, "same", float(m % 5)))
        # type 'shift': low values early, high values late
        for m in range(20):
            rows.append((m, "shift", 1.0))
            rows.append((m + 1000, "shift", 4.0))
        con = self._con_events(rows)
        out = {
            r[0]: r[1]
            for r in con.execute(
                QUERIES["psi_feature_drift"].oracle
            ).fetchall()
        }
        assert abs(out["same"]) < 20_000  # smoothing residue only
        assert out["shift"] > 500_000  # clear drift


class TestKeySkew:
    def test_uniform_keys_ratio_is_exactly_one(self):
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW events AS SELECT "
            "row_number() OVER () AS event_id, "
            "TIMESTAMP '2024-01-01 00:00:00' AS ts, "
            "(i % 10) AS user_id, 'click' AS event_type, "
            "1.0 AS value, '{}' AS props "
            "FROM (SELECT unnest(generate_series(1, 100)) AS i)"
        )
        out = con.execute(QUERIES["key_skew_profile"].oracle).fetchall()
        (et, n_keys, n_events, max_n, p50, p99, hot, skew) = out[0]
        assert (et, n_keys, n_events, max_n) == ("click", 10, 100, 10)
        assert p50 == 10.0 and p99 == 10.0
        assert skew == 1_000_000  # max == avg exactly
        assert hot == 100_000  # 10/100

    def test_hot_key_shows_up(self):
        con = duckdb.connect()
        # key 0 takes 91 rows, keys 1..9 one row each
        con.execute(
            "CREATE VIEW events AS SELECT "
            "i AS event_id, TIMESTAMP '2024-01-01 00:00:00' AS ts, "
            "(CASE WHEN i <= 91 THEN 0 ELSE i - 91 END) AS user_id, "
            "'buy' AS event_type, 1.0 AS value, '{}' AS props "
            "FROM (SELECT unnest(generate_series(1, 100)) AS i)"
        )
        out = con.execute(QUERIES["key_skew_profile"].oracle).fetchall()
        (_, n_keys, n_events, max_n, p50, _p99, hot, skew) = out[0]
        assert (n_keys, n_events, max_n, p50) == (10, 100, 91, 1.0)
        assert hot == 910_000
        assert skew == round(91 * 10 * 1_000_000.0 / 100)  # max/avg = 9.1
