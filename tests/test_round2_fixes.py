"""Round-2 regression tests for the ADVICE.md findings:

1. MERGE partition pruning must survive Hive-token encoding differences
   (booleans, special characters, floats) — str(True) != 'true' used to
   drop partitions from the rewrite set and duplicate upserted keys.
2. MERGE must replan when a concurrent commit lands between planning and
   the table lock (stale rewrite set would resurrect rewritten rows).
3. prune_files must not Bloom-probe type-mismatched literals
   (``pk = 5.0`` on a BIGINT column hashes '5.0' vs the stored '5').
4. TableLock is flock-based: no stale-break TOCTOU, reentrant-safe
   across processes, auto-released on holder death.
5. Executor-side Bloom probing returns exactly the driver loop's answer.
"""

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from ducklake_kafka_connect_spark.lake import LakeCatalog, LakeWriter
from ducklake_kafka_connect_spark.lake import writer as wmod
from ducklake_kafka_connect_spark.lake.bloom import (
    membership_filter,
    membership_filter_spark,
    write_sidecar,
)
from ducklake_kafka_connect_spark.lake.partitioning import (
    canon_partition_token,
    canon_partition_value,
)

TS = dt.datetime(2023, 10, 3, 14, 30)


@pytest.fixture()
def catalog(spark, tmp_path):
    return LakeCatalog(spark, str(tmp_path / "lake"))


class TestCanonPartitionEncoding:
    def test_boolean(self):
        assert canon_partition_value(True) == "true"
        assert canon_partition_value(False) == "false"
        assert canon_partition_token("true") == "true"
        # Python str(True) form, if it ever leaks into a token, folds too
        assert canon_partition_token("True") == "true"

    def test_escaped_special_chars(self):
        assert canon_partition_token("a%3Ab") == "a:b"
        assert canon_partition_value("a:b") == "a:b"
        assert canon_partition_token("x%3Dy%25z") == "x=y%z"

    def test_floats_java_vs_python(self):
        # Java writes 1.0E-4; Python repr gives 0.0001 — both canon equal
        assert canon_partition_token("1.0E-4") == canon_partition_value(0.0001)
        assert canon_partition_token("12.0") == canon_partition_value(12.0)

    def test_timestamps_fraction_trim(self):
        v = dt.datetime(2023, 1, 1, 10, 0, 0, 123000)
        # Spark cast-to-string trims trailing zeros; colons arrive escaped
        assert canon_partition_token("2023-01-01 10%3A00%3A00.123") == canon_partition_value(v)
        whole = dt.datetime(2023, 1, 1, 10, 0, 0)
        assert canon_partition_token("2023-01-01 10%3A00%3A00") == canon_partition_value(whole)

    def test_ints_and_null(self):
        assert canon_partition_token("2023") == canon_partition_value(2023)
        assert canon_partition_token("__HIVE_DEFAULT_PARTITION__") is None
        assert canon_partition_value(None) is None
        # string "01" and int 1 canon together — conservative over-match
        assert canon_partition_token("01") == canon_partition_value(1)


class TestMergePartitionEncodingEndToEnd:
    def _roundtrip(self, spark, catalog, name, schema, base, upsert, part_col):
        w = LakeWriter(catalog.table(name), pk=["id"], partition_by=part_col)
        w.write(spark.createDataFrame(base, schema))
        w.write(spark.createDataFrame(upsert, schema))  # MERGE
        return {r["id"]: r for r in catalog.table(name).read().collect()}

    def test_boolean_partition_upsert_no_duplicates(self, spark, catalog):
        rows = self._roundtrip(
            spark, catalog, "bools",
            "id int, flag boolean, v string",
            [(1, True, "a"), (2, False, "b")],
            [(1, True, "a2")],
            "flag",
        )
        assert len(rows) == 2, "boolean partition: upsert must replace, not duplicate"
        assert rows[1]["v"] == "a2"

    def test_special_char_partition_upsert(self, spark, catalog):
        rows = self._roundtrip(
            spark, catalog, "specials",
            "id int, label string, v string",
            [(1, "a:b", "x"), (2, "c=d%e", "y")],
            [(1, "a:b", "x2"), (2, "c=d%e", "y2")],
            "label",
        )
        assert len(rows) == 2
        assert rows[1]["v"] == "x2" and rows[2]["v"] == "y2"

    def test_float_partition_upsert(self, spark, catalog):
        rows = self._roundtrip(
            spark, catalog, "floats",
            "id int, bucket double, v string",
            [(1, 0.0001, "x"), (2, 12.0, "y")],
            [(1, 0.0001, "x2")],
            "bucket",
        )
        assert len(rows) == 2
        assert rows[1]["v"] == "x2"

    def test_partition_drift_across_boolean_partitions(self, spark, catalog):
        # key 1 moves from flag=true to flag=false: old copy must leave
        rows = self._roundtrip(
            spark, catalog, "drift",
            "id int, flag boolean, v string",
            [(1, True, "a"), (2, False, "b"), (3, True, "c"),
             (4, False, "d"), (5, True, "e")],
            [(1, False, "moved")],
            "flag",
        )
        assert len(rows) == 5
        assert rows[1]["flag"] is False and rows[1]["v"] == "moved"


class TestMergeReplansOnConcurrentCommit:
    def test_concurrent_commit_triggers_replan(self, spark, catalog):
        schema = "id int, v string, created_at timestamp"
        w = LakeWriter(catalog.table("cc"), pk=["id"])
        w.write(spark.createDataFrame([(1, "a", TS), (2, "b", TS)], schema))

        t = w.table
        orig_lock = t.lock
        state = {"fired": False, "locks": 0}

        def hooked_lock():
            state["locks"] += 1
            if not state["fired"]:
                state["fired"] = True
                # another writer commits between planning and the lock
                other = LakeWriter(
                    LakeCatalog(spark, os.path.dirname(t.dir)).table("cc"), pk=[]
                )
                other.append(spark.createDataFrame([(9, "z", TS)], schema))
            return orig_lock()

        t.lock = hooked_lock
        try:
            w.merge(spark.createDataFrame([(2, "b2", TS), (3, "c", TS)], schema))
        finally:
            t.lock = orig_lock

        rows = {r["id"]: r for r in catalog.table("cc").read().collect()}
        assert set(rows) == {1, 2, 3, 9}
        assert rows[2]["v"] == "b2"
        assert state["locks"] >= 2, "merge must have replanned after the concurrent commit"


class TestBloomTypeGuard:
    def _setup(self, spark, catalog, monkeypatch, name="bt"):
        monkeypatch.setattr(wmod.LakeWriter, "_merge_arrow", lambda self, *a, **k: None)
        w = LakeWriter(catalog.table(name), pk=["id"], auto_compact=False)
        w.write(spark.createDataFrame([(i, f"v{i}") for i in range(1, 6)], "id int, v string"))
        w.write(spark.createDataFrame([(i, f"v{i}") for i in range(10, 15)], "id int, v string"))
        return catalog.table(name)

    def test_float_literal_on_int_pk_not_probed(self, spark, catalog, monkeypatch):
        t = self._setup(spark, catalog, monkeypatch)
        # pk = 5.0 is true in SQL for pk=5; bloom hashes '5.0' vs stored '5'
        kept, _ = t.prune_files("id = 5.0")
        assert any("s1-" in f for f in kept), "float literal must not bloom-prune the id=5 file"
        assert t.read(where="id = 5.0").count() == t.read().filter("id = 5.0").count() == 1

    def test_matching_int_literal_still_probes(self, spark, catalog, monkeypatch):
        t = self._setup(spark, catalog, monkeypatch, "bt2")
        kept_eq, pruned_eq = t.prune_files("id = 5")
        assert pruned_eq >= 1, "well-typed equality keeps bloom pruning active"
        assert t.read(where="id = 5").count() == 1


class TestFlockTableLock:
    def test_exclusive_and_released(self, tmp_path):
        from ducklake_kafka_connect_spark.lake.table import CommitConflict, TableLock

        p = str(tmp_path / "LOCK")
        with TableLock(p, timeout=5):
            with pytest.raises(CommitConflict):
                with TableLock(p, timeout=0.2):
                    pass
        # released → immediately acquirable again
        with TableLock(p, timeout=1):
            pass

    def test_dead_holder_releases_automatically(self, tmp_path):
        import subprocess
        import sys

        p = str(tmp_path / "LOCK")
        # a child process takes the lock and dies WITHOUT unlocking
        subprocess.run(
            [sys.executable, "-c",
             "import fcntl, os, sys; fd=os.open(sys.argv[1], os.O_CREAT|os.O_RDWR);"
             "fcntl.flock(fd, fcntl.LOCK_EX); os._exit(0)", p],
            check=True,
        )
        from ducklake_kafka_connect_spark.lake.table import TableLock

        with TableLock(p, timeout=1):  # no stale-wait: kernel released it
            pass


class TestExecutorSideBloom:
    def test_spark_probe_matches_driver_probe(self, spark, tmp_path):
        paths = []
        for i in range(20):
            p = str(tmp_path / f"f{i}.parquet")
            with open(p, "wb") as f:
                f.write(b"x")
            write_sidecar(p, list(range(i * 10, i * 10 + 10)))
            paths.append(p)
        # file 7 holds 70..79; file 3 holds 30..39
        values = [72, 35, 999999]
        driver = membership_filter(paths, values)
        executor = membership_filter_spark(spark, paths, values)
        assert executor == driver
        assert driver[7] is True and driver[3] is True
        assert sum(driver) <= 4  # everything else bloom-pruned (fpp slack)

    def test_missing_sidecar_kept(self, spark, tmp_path):
        p = str(tmp_path / "nosidecar.parquet")
        with open(p, "wb") as f:
            f.write(b"x")
        assert membership_filter_spark(spark, [p], [1]) == [True]


class TestAsofNullKeysAndTies:
    def test_null_left_key_gets_null_payload(self, spark):
        from ducklake_kafka_connect_spark.operators.asof import asof_join

        left = spark.createDataFrame(
            [(1, None, 10), (2, "u1", 10)], "eid int, k string, ts int"
        )
        right = spark.createDataFrame(
            [(None, 5, 100), ("u1", 5, 200)], "k string, ts int, pay int"
        )
        out = {r["eid"]: r for r in asof_join(
            left, right, key="k", left_ts="ts", right_ts="ts", payload=["pay"]
        ).collect()}
        assert out[1]["pay_right"] is None, "NULL key must never match (SQL equality)"
        assert out[2]["pay_right"] == 200

    def test_equal_ts_right_ties_deterministic(self, spark):
        from ducklake_kafka_connect_spark.operators.asof import asof_join

        left = spark.createDataFrame([("u1", 10)], "k string, ts int")
        right = spark.createDataFrame(
            [("u1", 5, 1), ("u1", 5, 9), ("u1", 5, 4)], "k string, ts int, pay int"
        )
        for _ in range(3):
            out = asof_join(left, right, key="k", payload=["pay"]).collect()
            assert out[0]["pay_right"] == 9  # max payload struct wins, every run


class TestMergeRangeSplitOutput:
    """Small-merge outputs are range-split by PK into key-disjoint files,
    so later merges rewrite only the files their batch keys overlap
    (bounded rewrite amplification on hot tables)."""

    @staticmethod
    def _ten_range_files(spark, tmp_path):
        cat = LakeCatalog(spark, str(tmp_path / "lake"))
        # auto_compact off: this test NEEDS the 10 accreted range files
        w = LakeWriter(cat.table("t"), pk=["id"], auto_compact=False)
        for i in range(10):  # >8 disjoint-range files
            w.append(
                spark.range(i * 10_000, (i + 1) * 10_000).select(
                    F.col("id"), F.lit(f"v{i}").alias("name")
                )
            )
        t = cat.table("t")
        before = set(t.manifest().all_files())
        assert len(before) == 10
        return t, w, before

    @pytest.mark.parametrize("merge", ["write", "tombstone"])
    def test_range_split_bounds_later_rewrites(
        self, spark, tmp_path, monkeypatch, merge
    ):
        # pins the pruning executor's estimate-based range layout, with
        # and without a (never-set) tombstone column on the batch
        monkeypatch.setattr(wmod.LakeWriter, "_merge_arrow", lambda self, *a, **k: None)
        t, w, before = self._ten_range_files(spark, tmp_path)

        def upsert(df):
            if merge == "write":
                w.write(df)
            else:
                w.merge(df.withColumn("del", F.lit(False)), tombstone_col="del")

        # merge spanning files 0-2 → rewrites those, range-splits output
        upsert(
            spark.range(0, 25_000).select(F.col("id"), F.lit("upd").alias("name"))
        )
        m1 = set(t.manifest().all_files())
        untouched = {f for f in before if f in m1}
        assert len(untouched) == 7, "files 3..9 must survive the first merge"
        new_files = sorted(m1 - before)
        assert len(new_files) >= 2, "55k-row output must be range-split"

        # point-range merge → only the low range-split file is rewritten
        upsert(
            spark.range(0, 100).select(F.col("id"), F.lit("upd2").alias("name"))
        )
        m2 = set(t.manifest().all_files())
        survivors = {f for f in new_files if f in m2}
        assert len(survivors) >= 1, (
            "key-disjoint output files outside the batch range must survive"
        )
        # correctness: nothing lost, updates visible
        rows = t.read().count()
        assert rows == 100_000
        assert t.read().filter("id = 50 AND name = 'upd2'").count() == 1
        assert t.read().filter("id = 20000 AND name = 'upd'").count() == 1
        assert t.read().filter("id = 80000 AND name = 'v8'").count() == 1
        assert t.read().filter("id = 95000 AND name = 'v9'").count() == 1

    def test_arrow_merge_keeps_files_without_batch_keys(self, spark, tmp_path):
        """The Arrow executor's twin: it rewrites exactly the files that
        hold a batch key; every other file survives with its path."""
        from ducklake_kafka_connect_spark.metrics import REGISTRY

        def arrow_merges():
            ops = REGISTRY.snapshot()["operations"]
            return ops.get("merge.arrowWrite", {}).get("count", 0)

        def holding(m, files, hi):
            return {f for f in files if m.file_stats[f]["id"][0] < hi}

        t, w, before = self._ten_range_files(spark, tmp_path)
        n0 = arrow_merges()
        m0 = t.manifest()
        w.write(
            spark.range(0, 25_000).select(F.col("id"), F.lit("upd").alias("name"))
        )
        m1 = t.manifest()
        assert set(m1.all_files()) & before == before - holding(m0, before, 25_000)
        assert len(before - set(m1.all_files())) == 3

        w.write(
            spark.range(0, 100).select(F.col("id"), F.lit("upd2").alias("name"))
        )
        files1 = set(m1.all_files())
        m2 = set(t.manifest().all_files())
        assert m2 & files1 == files1 - holding(m1, files1, 100)
        assert arrow_merges() == n0 + 2
        assert t.read().count() == 100_000
        assert t.read().filter("id = 50 AND name = 'upd2'").count() == 1
        assert t.read().filter("id = 20000 AND name = 'upd'").count() == 1
        assert t.read().filter("id = 29999 AND name = 'v2'").count() == 1
        assert t.read().filter("id = 95000 AND name = 'v9'").count() == 1
