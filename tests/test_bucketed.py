"""Bucketed co-located join: exchange-free plan + result equivalence."""

from pyspark.sql import functions as F

from ducklake_kafka_connect_spark.plans.quality import bucketed_join_frames

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_bucketed_join_has_no_exchange_and_matches_plain(spark):
    joined, plain = bucketed_join_frames(spark, SF)
    plan = _plan(joined)
    assert "Exchange" not in plan, f"bucketed join shuffled:\n{plan}"
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    got = sorted(tuple(r) for r in joined.select("o_custkey", "cents", "c_mktsegment").collect())
    want = sorted(tuple(r) for r in plain.select("o_custkey", "cents", "c_mktsegment").collect())
    assert got == want and len(got) > 0


def test_repeated_build_leaves_no_catalog_table(spark):
    """Each build writes two bucketed tables through the session
    catalog; the frames keep working once their entries are dropped, so
    a second bucketed_colocated_join leaves the table count unchanged."""
    from ducklake_kafka_connect_spark.plans.quality import bucketed_colocated_join

    first = bucketed_colocated_join(spark, SF).collect()
    n_tables = len(spark.catalog.listTables())
    second = bucketed_colocated_join(spark, SF)
    assert len(spark.catalog.listTables()) == n_tables
    assert sorted(second.collect()) == sorted(first)
