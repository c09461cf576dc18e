"""DuckDB-only checks of the ``psi_feature_drift`` oracle SQL
(plans/timeseries.py) over crafted time halves; the sf0.001/sf0.01
parity is covered by test_entry_oracle.py.
"""

from ducklake_kafka_connect_spark.plans.queries import QUERIES


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
