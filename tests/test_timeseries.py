"""Semantic invariants for the time-series / product-analytics wave
(plans/timeseries.py). The DuckDB oracle twin (test_entry_oracle) pins
cross-engine equality; these pin the SEMANTICS — properties that could
hold identically-wrong on both engines if a formulation slipped.
"""

import duckdb
import pytest

from ducklake_kafka_connect_spark.plans.timeseries import SESSION_GAP_US
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
