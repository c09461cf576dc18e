"""Metadata-only RENAME COLUMN (Delta column-mapping style).

Files keep their physical column names forever; the manifest maps
{logical → physical} and every file boundary translates. These tests
pin: zero-rewrite rename, read/pruning/write/merge under the new name,
rename chains and rename-back, time travel, CDC across the rename
boundary, interaction with drop/clone/compact, and the guard set.
"""

import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from ducklake_kafka_connect_spark.lake import LakeTable, LakeWriter
from ducklake_kafka_connect_spark.lake.maintenance import compact


def _mk(spark, root, name="t", n=60, partitioned=False):
    df = spark.range(n).select(
        F.col("id").alias("pk"),
        (F.col("id") % 3).cast("string").alias("grp"),
        (F.col("id") * 10).alias("score"),
        F.concat(F.lit("u"), F.col("id")).alias("who"),
    )
    t = LakeTable(spark, root, name)
    w = LakeWriter(
        t, pk=["pk"], partition_by="grp" if partitioned else None
    )
    w.write(df)
    return t, w


def _data_files(t):
    return sorted(t.manifest().all_files())


class TestRenameBasics:
    def test_zero_rewrite_and_read_under_new_name(self, spark, tmp_path):
        t, _ = _mk(spark, str(tmp_path))
        before = _data_files(t)
        t.rename_column("score", "points")
        assert _data_files(t) == before  # no file touched
        out = t.read()
        assert "points" in out.columns and "score" not in out.columns
        rows = {r["pk"]: r["points"] for r in out.collect()}
        assert rows[7] == 70
        # physical name inside the files is unchanged
        f0 = os.path.join(t.dir, before[0])
        assert "score" in pq.read_schema(f0).names

    def test_stats_keys_follow_the_rename(self, spark, tmp_path):
        t, _ = _mk(spark, str(tmp_path))
        t.rename_column("score", "points")
        m = t.manifest()
        stat_cols = {c for s in m.file_stats.values() for c in s}
        assert "points" in stat_cols and "score" not in stat_cols

    def test_pruning_works_on_the_new_name(self, spark, tmp_path):
        # appends (no PK → no merge rewrite) → two files with
        # DISJOINT score ranges, so stats pruning has a target
        t = LakeTable(spark, str(tmp_path), "ap")
        w = LakeWriter(t)
        for lo in (0, 60):
            w.write(
                spark.range(lo, lo + 60).select(
                    F.col("id").alias("pk"),
                    (F.col("id") * 10).alias("score"),
                )
            )
        assert len(_data_files(t)) >= 2
        t.rename_column("score", "points")
        kept, n_pruned = t.prune_files("points <= 100")
        assert n_pruned > 0
        got = {r["pk"] for r in t.read(where="points <= 100").collect()}
        assert got == set(range(11))

    def test_time_travel_sees_the_old_name(self, spark, tmp_path):
        t, _ = _mk(spark, str(tmp_path))
        v0 = t.current_version()
        t.rename_column("score", "points")
        old = t.read(version=v0)
        assert "score" in old.columns and "points" not in old.columns
        assert old.count() == 60


class TestWritesAfterRename:
    def test_append_uses_logical_name_files_stay_physical(
        self, spark, tmp_path
    ):
        t, w = _mk(spark, str(tmp_path))
        t.rename_column("score", "points")
        w2 = LakeWriter(t, pk=["pk"])
        w2.write(
            spark.range(100, 110).select(
                F.col("id").alias("pk"),
                F.lit("9").alias("grp"),
                (F.col("id") * 10).alias("points"),
                F.concat(F.lit("u"), F.col("id")).alias("who"),
            )
        )
        out = t.read()
        assert out.count() == 70
        assert {r["points"] for r in out.filter("pk >= 100").collect()} == {
            i * 10 for i in range(100, 110)
        }
        # every data file (old AND new) stores the physical name
        for f in _data_files(t):
            names = pq.read_schema(os.path.join(t.dir, f)).names
            assert "score" in names and "points" not in names
        # harvested stats for the new files are keyed logically
        m = t.manifest()
        assert all(
            "score" not in s for s in m.file_stats.values()
        )

    def test_merge_upsert_after_rename(self, spark, tmp_path):
        t, _ = _mk(spark, str(tmp_path))
        t.rename_column("score", "points")
        w2 = LakeWriter(t, pk=["pk"])
        w2.write(
            spark.range(5).select(
                F.col("id").alias("pk"),
                F.lit("0").alias("grp"),
                F.lit(-1).alias("points"),
                F.lit("upd").alias("who"),
            )
        )
        out = t.read()
        assert out.count() == 60
        assert out.filter("points = -1").count() == 5
        assert out.filter("who = 'upd'").count() == 5

    def test_schema_evolution_after_rename(self, spark, tmp_path):
        t, _ = _mk(spark, str(tmp_path))
        t.rename_column("who", "user_tag")
        w2 = LakeWriter(t, pk=["pk"])
        w2.write(
            spark.range(200, 205).select(
                F.col("id").alias("pk"),
                F.lit("1").alias("grp"),
                F.col("id").alias("score"),
                F.lit("x").alias("user_tag"),
                F.lit(True).alias("extra"),  # ADD COLUMN evolution
            )
        )
        out = t.read()
        assert "extra" in out.columns and "user_tag" in out.columns
        assert out.filter("extra = true").count() == 5
        # old rows null-fill the new column
        assert out.filter("extra IS NULL").count() == 60


class TestRenameChains:
    def test_chain_keeps_original_physical(self, spark, tmp_path):
        t, _ = _mk(spark, str(tmp_path))
        t.rename_column("score", "points")
        t.rename_column("points", "value3")
        m = t.manifest()
        assert m.column_renames == {"value3": "score"}
        assert {r["value3"] for r in t.read().limit(3).collect()} <= {
            i * 10 for i in range(60)
        }

    def test_rename_back_clears_the_mapping(self, spark, tmp_path):
        t, _ = _mk(spark, str(tmp_path))
        t.rename_column("score", "points")
        t.rename_column("points", "score")
        m = t.manifest()
        assert m.column_renames == {}
        assert "column_renames" not in m.props
        assert t.read().filter("score = 100").count() == 1


class TestGuards:
    def test_refuses_pk_partition_system_and_collisions(
        self, spark, tmp_path
    ):
        t, _ = _mk(spark, str(tmp_path), partitioned=True)
        with pytest.raises(ValueError, match="PK"):
            t.rename_column("pk", "pk2")
        with pytest.raises(ValueError, match="partition"):
            t.rename_column("grp", "bucket")
        with pytest.raises(ValueError, match="_inserted_at"):
            t.rename_column("_inserted_at", "ts")
        with pytest.raises(ValueError, match="already exists"):
            t.rename_column("score", "who")
        with pytest.raises(ValueError, match="no column"):
            t.rename_column("nope", "x")
        t.rename_column("score", "points")
        with pytest.raises(ValueError, match="physical name"):
            t.rename_column("who", "score")  # score is points' physical


class TestInteractions:
    def test_changes_across_rename_boundary_is_value_based(
        self, spark, tmp_path
    ):
        t, w = _mk(spark, str(tmp_path))
        v0 = t.current_version()
        t.rename_column("score", "points")
        # rename alone: zero changed rows
        assert t.changes(v0).count() == 0
        w2 = LakeWriter(t, pk=["pk"])
        w2.write(
            spark.range(2).select(
                F.col("id").alias("pk"),
                F.lit("0").alias("grp"),
                F.lit(-5).alias("points"),
                F.lit("chg").alias("who"),
            )
        )
        ch = t.changes(v0)
        assert ch.filter("_change_type = 'update'").count() == 2
        assert {r["points"] for r in ch.collect()} == {-5}

    def test_drop_renamed_column_retires_mapping(self, spark, tmp_path):
        t, _ = _mk(spark, str(tmp_path))
        t.rename_column("score", "points")
        t.drop_column("points")
        m = t.manifest()
        assert m.column_renames == {}
        assert "points" not in t.read().columns
        assert t.read().count() == 60

    def test_clone_carries_the_mapping(self, spark, tmp_path):
        t, _ = _mk(spark, str(tmp_path))
        t.rename_column("score", "points")
        c = t.clone(str(tmp_path), "dst")
        out = c.read()
        assert "points" in out.columns
        assert out.filter("points = 100").count() == 1

    def test_compact_after_rename_round_trips(self, spark, tmp_path):
        t, w = _mk(spark, str(tmp_path))
        for k in range(4):  # pile up small files
            w.write(
                spark.range(300 + k * 10, 310 + k * 10).select(
                    F.col("id").alias("pk"),
                    F.lit("z").alias("grp"),
                    F.col("id").alias("score"),
                    F.lit("c").alias("who"),
                )
            )
        t.rename_column("score", "points")
        before = {r["pk"]: r["points"] for r in t.read().collect()}
        compact(t, max_files_per_partition=1)
        after = {r["pk"]: r["points"] for r in t.read().collect()}
        assert after == before
        # compacted files still carry the physical name
        for f in _data_files(t):
            assert "points" not in pq.read_schema(os.path.join(t.dir, f)).names

    def test_sql_catalog_sees_logical_names(self, spark, tmp_path):
        from ducklake_kafka_connect_spark.lake import LakeCatalog

        t, _ = _mk(spark, str(tmp_path))
        t.rename_column("score", "points")
        cat = LakeCatalog(spark, str(tmp_path))
        out = cat.sql("SELECT pk, points FROM t WHERE points = 200")
        assert [r["pk"] for r in out.collect()] == [20]


class TestPredicateOpsAfterRename:
    def test_update_where_on_renamed_column(self, spark, tmp_path):
        t, _ = _mk(spark, str(tmp_path))
        t.rename_column("score", "points")
        w = LakeWriter(t, pk=["pk"])
        w.update_where("points >= 500", {"points": "points + 1", "who": "'bumped'"})
        out = t.read()
        assert out.filter("who = 'bumped'").count() == 10  # pk 50..59
        assert out.filter("points = 591").count() == 1  # 59*10 + 1
        assert out.count() == 60
        # untouched rows intact under the logical name
        assert out.filter("points = 70").count() == 1

    def test_delete_where_on_renamed_column(self, spark, tmp_path):
        t, _ = _mk(spark, str(tmp_path))
        t.rename_column("score", "points")
        w = LakeWriter(t, pk=["pk"])
        w.delete_where("points < 100")
        out = t.read()
        assert out.count() == 50
        assert out.filter("points < 100").count() == 0
        # survivor files still physical-named
        for f in _data_files(t):
            names = pq.read_schema(os.path.join(t.dir, f)).names
            assert "score" in names and "points" not in names


class TestPhysicalNameRefusal:
    """A batch column named like a renamed column's physical name would
    add a second column of that name inside the files. Schema planning
    refuses it as a ReconcileError (the ingest path's DLQ signal), before
    and after the rename alike, and commits nothing."""

    @staticmethod
    def _stale(spark, lo, hi):
        # the pre-rename shape: still calls `points` by its old name
        return spark.range(lo, hi).select(
            F.col("id").alias("pk"),
            F.lit("0").alias("grp"),
            (F.col("id") * 10).alias("score"),
            F.lit("new").alias("who"),
        )

    def _assert_refused(self, t, v):
        assert t.current_version() == v
        out = t.read()
        assert out.count() == 60 and "score" not in out.columns

    def test_append_refused(self, spark, tmp_path):
        from ducklake_kafka_connect_spark.schema.reconcile import ReconcileError

        t, _ = _mk(spark, str(tmp_path))
        t.rename_column("score", "points")
        v = t.current_version()
        with pytest.raises(ReconcileError, match="physical name") as e:
            LakeWriter(t, pk=[]).append(self._stale(spark, 100, 110))
        assert e.value.field == "score"
        self._assert_refused(t, v)

    def test_merge_refused(self, spark, tmp_path):
        from ducklake_kafka_connect_spark.schema.reconcile import ReconcileError

        t, _ = _mk(spark, str(tmp_path))
        t.rename_column("score", "points")
        v = t.current_version()
        with pytest.raises(ReconcileError, match="physical name"):
            LakeWriter(t, pk=["pk"]).write(self._stale(spark, 50, 70))
        self._assert_refused(t, v)

    def test_merge_refused_when_rename_lands_mid_merge(
        self, spark, tmp_path, monkeypatch
    ):
        """The rename lands between the merge's planning and its commit
        (inside the Arrow executor's partition split): the commit sees
        the moved tip, replans, and the replan refuses the batch."""
        from ducklake_kafka_connect_spark.lake import writer as wmod
        from ducklake_kafka_connect_spark.schema.reconcile import ReconcileError

        t, _ = _mk(spark, str(tmp_path))
        split = wmod.dir_groups
        renamed = []

        def rename_then_split(*a, **k):
            if not renamed:
                t.rename_column("score", "points")  # the concurrent DDL
                renamed.append(True)
            return split(*a, **k)

        monkeypatch.setattr(wmod, "dir_groups", rename_then_split)
        v = t.current_version()
        with pytest.raises(ReconcileError, match="physical name"):
            LakeWriter(t, pk=["pk"]).write(self._stale(spark, 50, 70))
        assert renamed
        self._assert_refused(t, v + 1)

    def test_ingest_batch_lands_in_the_dlq(self, spark, tmp_path):
        from ducklake_kafka_connect_spark.lake import LakeCatalog
        from ducklake_kafka_connect_spark.streaming.ingest import (
            IngestConfig,
            IngestPipeline,
            TableSpec,
        )

        cat = LakeCatalog(spark, str(tmp_path / "lake"))
        pipe = IngestPipeline(cat, IngestConfig(
            topic2table={"t1": "orders"},
            tables={"orders": TableSpec(id_columns=["id"], auto_create=True)},
        ))

        def batch(payloads):
            return spark.createDataFrame(
                [("t1", 0, i, bytearray(p.encode())) for i, p in enumerate(payloads)],
                "topic string, partition int, offset long, value binary",
            )

        pipe.process_batch(batch(['{"id": 1, "qty": 5}', '{"id": 2, "qty": 6}']))
        cat.table("orders").rename_column("qty", "amount")
        pipe.process_batch(batch(['{"id": 3, "qty": 7}']))
        rows = cat.table("orders").read()
        assert sorted((r["id"], r["amount"]) for r in rows.collect()) == [(1, 5), (2, 6)]
        dlq = cat.table("orders_dlq").read().collect()
        assert len(dlq) == 1 and "physical name" in dlq[0]["error"]
        assert '"qty":7' in dlq[0]["raw_value"].replace(" ", "")
