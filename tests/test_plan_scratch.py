"""Plan builders that write a scratch lake: each call builds its own
lake, and every such lake is removed when the process exits."""

import os
import subprocess
import sys

import duckdb

from ducklake_kafka_connect_spark.plans.queries import QUERIES
from tests.test_entry_oracle import df_rows

SF_DIR = "/root/testdata/sf0.001"
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_CHILD = f"""
from ducklake_kafka_connect_spark.plans.queries import QUERIES
from ducklake_kafka_connect_spark.session import build_session

spark = build_session(master="local[1]", shuffle_partitions=1)
for name in ("sql_update_returning", "zorder_pruned_scan"):
    assert QUERIES[name].fn(spark, {SF_DIR!r}).collect()
"""


def test_scratch_lakes_are_removed_at_exit(tmp_path):
    env = dict(os.environ, TMPDIR=str(tmp_path), PYTHONPATH=REPO)
    proc = subprocess.run(
        [sys.executable, "-c", _CHILD], env=env, cwd=REPO,
        capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert not [p for p in os.listdir(tmp_path) if p.startswith("ducklake_")]


def test_update_returning_twice_in_one_session(spark):
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{SF_DIR}/events.parquet')"
    )
    want = con.execute(QUERIES["sql_update_returning"].oracle)
    cols = [d[0] for d in want.description]
    want = df_rows(cols, want.fetchall())
    fn = QUERIES["sql_update_returning"].fn
    a, b = fn(spark, SF_DIR), fn(spark, SF_DIR)
    assert a is not b
    for df in (a, b):
        assert df_rows(df.columns, df.collect()) == want
