"""DuckDB-only checks of the ``key_skew_profile`` oracle SQL
(plans/timeseries.py) over crafted key distributions the driver testdata
doesn't reach; the sf0.001/sf0.01 parity is covered by
test_entry_oracle.py.
"""

import duckdb

from ducklake_kafka_connect_spark.plans.queries import QUERIES


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
