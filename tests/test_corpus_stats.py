"""Spark-free property checks for the HyperLogLog and median/MAD oracle
formulations of ``hll_distinct_sketch`` and ``robust_value_outliers``
(plans/timeseries.py).

The oracle SQL is the executable spec both engines must match; these
tests stress it in DuckDB alone across regimes the driver testdata
doesn't reach (HLL across cardinalities, MAD degenerate distributions)
— cheap, deterministic, no SparkSession.
"""

import duckdb
import pytest

from ducklake_kafka_connect_spark.plans.timeseries import (
    HLL_2P53,
    HLL_ALPHA_M2,
    HLL_M,
    HLL_P,
    MAD_K_X10000,
)
from ducklake_kafka_connect_spark.operators.dedup import h60_sql


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
