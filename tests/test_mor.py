"""Merge-on-read (lake/mor.py): tombstone + delta commits, visibility
on every read surface, materialization, retention, and interop."""

import os

import pytest
from pyspark.sql import functions as F

from ducklake_kafka_connect_spark.lake import LakeCatalog, LakeWriter
from ducklake_kafka_connect_spark.lake import writer as wmod
from ducklake_kafka_connect_spark.lake.maintenance import compact, vacuum
from ducklake_kafka_connect_spark.lake.mor import (
    MODE_MOR,
    TBLPROP_MERGE_MODE,
    mor_state,
)


def _mk(spark, tmp_path, name="t", partition_by=None, rows=100):
    cat = LakeCatalog(spark, str(tmp_path / "lake"))
    t = cat.table(name)
    w = LakeWriter(t, pk=["id"], partition_by=partition_by, merge_mode=MODE_MOR)
    base = spark.createDataFrame(
        [(i, f"v{i}", i % 3) for i in range(rows)], "id int, val string, grp int"
    )
    w.merge(base)
    return cat, t, w


def _vals(t, **kw):
    return {r["id"]: r["val"] for r in t.read(**kw).collect()}


def test_insert_only_merge_writes_no_tombstone(spark, tmp_path):
    _, t, _ = _mk(spark, tmp_path)
    seq, deletes = mor_state(t.manifest())
    assert deletes == {}  # nothing could match → pure insert, no tombstone
    assert t.read().count() == 100


def test_upsert_suppresses_old_versions(spark, tmp_path):
    _, t, w = _mk(spark, tmp_path)
    files_before = set(t.manifest().all_files())
    w.merge(
        spark.createDataFrame(
            [(i, f"u{i}", 9) for i in range(40, 60)]
            + [(i, f"n{i}", 9) for i in range(100, 110)],
            "id int, val string, grp int",
        )
    )
    m = t.manifest()
    # no rewrite: every pre-merge file survives the commit untouched
    assert files_before <= set(m.all_files())
    seq, deletes = mor_state(m)
    assert len(deletes) == 1
    meta = next(iter(deletes.values()))
    # tombstone holds only the MATCHED keys, not the inserts
    assert meta["rows"] == 20
    vals = _vals(t)
    assert len(vals) == 110
    assert vals[45] == "u45" and vals[105] == "n105" and vals[5] == "v5"


def test_inserted_at_preserved_on_update(spark, tmp_path):
    _, t, w = _mk(spark, tmp_path)
    before = {
        r["id"]: r["_inserted_at"]
        for r in t.read().select("id", "_inserted_at").collect()
    }
    w.merge(spark.createDataFrame([(7, "u7", 0)], "id int, val string, grp int"))
    after = {
        r["id"]: r["_inserted_at"]
        for r in t.read().select("id", "_inserted_at").collect()
    }
    assert after[7] == before[7]  # updated key keeps its insertion stamp
    assert after[8] == before[8]


def test_in_batch_duplicates_resolve_by_order(spark, tmp_path):
    _, t, w = _mk(spark, tmp_path, rows=10)
    dup = spark.createDataFrame(
        [(3, "first", 0, 1), (3, "last", 0, 2)],
        "id int, val string, grp int, seq int",
    )
    w.merge(dup, order_col="seq")
    assert _vals(t)[3] == "last"
    # the delta file holds ONE row for the pk (eager dedup)
    assert t.read().filter("id = 3").count() == 1


def test_cdc_tombstone_col_delete_and_reinsert(spark, tmp_path):
    _, t, w = _mk(spark, tmp_path, rows=10)
    cdc = spark.createDataFrame(
        [(3, None, None, True), (99, "new", 1, False)],
        "id int, val string, grp int, _del boolean",
    )
    w.merge(cdc, tombstone_col="_del")
    vals = _vals(t)
    assert 3 not in vals and vals[99] == "new"
    # delete-then-reinsert within one batch resolves by order
    cdc2 = spark.createDataFrame(
        [(4, None, None, True, 1), (4, "back", 0, False, 2)],
        "id int, val string, grp int, _del boolean, o int",
    )
    w.merge(cdc2, tombstone_col="_del", order_col="o")
    assert _vals(t)[4] == "back"


def test_delete_where_is_tombstone_only(spark, tmp_path):
    _, t, w = _mk(spark, tmp_path)
    files_before = set(t.manifest().all_files())
    w.delete_where("id < 10")
    m = t.manifest()
    assert set(m.all_files()) == files_before  # no rewrite, no new data file
    assert m.props["last_op"] == "DELETE(MOR)"
    assert t.read().count() == 90
    assert t.row_count() == 90  # visible count, not footer sum


def test_update_where_emits_delta_and_tombstone(spark, tmp_path):
    _, t, w = _mk(spark, tmp_path)
    files_before = set(t.manifest().all_files())
    w.update_where("grp = 1", {"val": "'X'"})
    m = t.manifest()
    assert files_before <= set(m.all_files())
    assert m.props["last_op"] == "UPDATE(MOR)"
    got = t.read()
    assert got.filter("val = 'X'").count() == got.filter("grp = 1").count()
    assert got.count() == 100


def test_time_travel_reconstructs_each_version(spark, tmp_path):
    _, t, w = _mk(spark, tmp_path, rows=20)
    v1 = t.current_version()
    w.merge(spark.createDataFrame([(5, "u5", 9)], "id int, val string, grp int"))
    w.delete_where("id = 6")
    assert _vals(t, version=v1)[5] == "v5"
    assert 6 in _vals(t, version=v1)
    assert _vals(t)[5] == "u5"
    assert 6 not in _vals(t)


def test_partitioned_mor_merge(spark, tmp_path):
    _, t, w = _mk(spark, tmp_path, partition_by="grp")
    w.merge(
        spark.createDataFrame(
            # grp changes for id=1: partition-value drift through MOR
            [(1, "moved", 2), (200, "new", 0)],
            "id int, val string, grp int",
        )
    )
    got = t.read()
    assert got.count() == 101
    assert got.filter("id = 1").collect()[0]["grp"] == 2
    assert got.filter("id = 1").count() == 1  # old partition copy suppressed


def test_schema_evolution_mid_mor(spark, tmp_path):
    _, t, w = _mk(spark, tmp_path, rows=10)
    w.merge(
        spark.createDataFrame(
            [(3, "u3", 0, "extra")], "id int, val string, grp int, note string"
        )
    )
    got = t.read()
    assert got.filter("id = 3").collect()[0]["note"] == "extra"
    assert got.filter("id = 4").collect()[0]["note"] is None
    assert got.count() == 10


def test_rename_interop_with_live_tombstones(spark, tmp_path):
    # PK columns cannot be renamed (engine invariant), so tombstone pk
    # names never drift; a NON-pk rename must still read cleanly through
    # the visibility join and subsequent MOR merges
    _, t, w = _mk(spark, tmp_path, rows=10)
    w.merge(spark.createDataFrame([(3, "u3", 0)], "id int, val string, grp int"))
    t.rename_column("val", "label")
    got = {r["id"]: r["label"] for r in t.read().collect()}
    assert got[3] == "u3" and len(got) == 10
    w2 = LakeWriter(t, pk=["id"], merge_mode=MODE_MOR)
    w2.merge(
        spark.createDataFrame([(3, "uu3", 0)], "id int, label string, grp int")
    )
    got = {r["id"]: r["label"] for r in t.read().collect()}
    assert got[3] == "uu3" and len(got) == 10


def test_cow_merge_on_mor_state_materializes_incrementally(spark, tmp_path, monkeypatch):
    _, t, w = _mk(spark, tmp_path, rows=10)
    w.merge(spark.createDataFrame([(3, "u3", 9)], "id int, val string, grp int"))
    assert mor_state(t.manifest())[1]
    # copy-on-write merge over the same table reads only VISIBLE rows
    monkeypatch.setattr(wmod.LakeWriter, "_merge_arrow", lambda self, *a, **k: None)
    cow = LakeWriter(t, pk=["id"])
    cow.merge(spark.createDataFrame([(4, "c4", 9)], "id int, val string, grp int"))
    vals = _vals(t)
    assert vals[3] == "u3" and vals[4] == "c4" and len(vals) == 10
    assert t.read().filter("id = 3").count() == 1


def test_tombstone_arrow_write_failure_is_a_counted_fallback(
    spark, tmp_path, monkeypatch
):
    """A tombstone whose driver-side Arrow write fails is written by
    Spark instead, counted as ``mor.tombstoneFallback.error``."""
    import pyarrow.parquet as pq

    from ducklake_kafka_connect_spark.metrics import REGISTRY

    _, t, w = _mk(spark, tmp_path, rows=10)
    real = pq.write_table

    def failing(tbl, where, *a, **k):
        if str(where).endswith("tombstones.parquet"):
            raise OSError("injected tombstone write failure")
        return real(tbl, where, *a, **k)

    def fallbacks():
        return REGISTRY.snapshot()["counters"].get("mor.tombstoneFallback.error", 0)

    monkeypatch.setattr(pq, "write_table", failing)
    before = fallbacks()
    w.merge(spark.createDataFrame(
        [(3, "u3", 9), (50, "n50", 0)], "id int, val string, grp int"))
    assert fallbacks() - before == 1
    _, deletes = mor_state(t.manifest())
    assert [meta["rows"] for meta in deletes.values()] == [1]
    vals = _vals(t)
    assert vals[3] == "u3" and vals[50] == "n50" and len(vals) == 11
    assert t.read().filter("id = 3").count() == 1


def test_small_table_cow_path_respects_visibility(spark, tmp_path):
    _, t, w = _mk(spark, tmp_path, rows=10)
    w.merge(spark.createDataFrame([(3, "u3", 9)], "id int, val string, grp int"))
    # default writer (otherwise Arrow-merge eligible) must not take the
    # raw Arrow rewrite while tombstones are live
    cow = LakeWriter(t, pk=["id"])
    cow.merge(spark.createDataFrame([(5, "c5", 9)], "id int, val string, grp int"))
    vals = _vals(t)
    assert vals[3] == "u3" and vals[5] == "c5" and len(vals) == 10


def test_append_after_tombstone_is_not_suppressed(spark, tmp_path):
    _, t, w = _mk(spark, tmp_path, rows=10)
    w.delete_where("id = 3")
    assert 3 not in _vals(t)
    w.append(spark.createDataFrame([(3, "back", 0)], "id int, val string, grp int"))
    assert _vals(t)[3] == "back"  # appended file stamped with its commit seq
    seq, deletes = mor_state(t.manifest())
    assert deletes and any(v > 0 for v in seq.values())


def test_optimize_materializes_and_vacuum_reclaims(spark, tmp_path):
    _, t, w = _mk(spark, tmp_path)
    w.merge(
        spark.createDataFrame(
            [(i, f"u{i}", 9) for i in range(30)], "id int, val string, grp int"
        )
    )
    w.delete_where("id >= 90")
    _, deletes = mor_state(t.manifest())
    tomb_paths = [os.path.join(t.dir, p) for p in deletes]
    assert all(os.path.exists(p) for p in tomb_paths)
    res = compact(t)
    assert res.partitions_compacted > 0
    m = t.manifest()
    assert mor_state(m) == ({}, {})  # state retired at materialization
    vals = _vals(t)
    assert len(vals) == 90 and vals[5] == "u5"
    # tombstones of dropped versions are unreferenced → vacuum reclaims
    vacuum(t, keep_versions=1, orphan_grace_s=0)
    assert not any(os.path.exists(p) for p in tomb_paths)
    assert t.read().count() == 90


def test_vacuum_keeps_tombstones_of_retained_versions(spark, tmp_path):
    _, t, w = _mk(spark, tmp_path, rows=20)
    w.delete_where("id < 5")
    _, deletes = mor_state(t.manifest())
    tomb_paths = [os.path.join(t.dir, p) for p in deletes]
    vacuum(t, keep_versions=1, orphan_grace_s=0)
    assert all(os.path.exists(p) for p in tomb_paths)
    assert t.read().count() == 15


def test_restore_carries_mor_state(spark, tmp_path):
    _, t, w = _mk(spark, tmp_path, rows=10)
    w.delete_where("id < 3")  # v2: 7 rows via tombstone
    v_del = t.current_version()
    compact(t)  # v3: materialized, 7 rows, no state
    w.append(spark.createDataFrame([(50, "x", 0)], "id int, val string, grp int"))
    t.restore(v_del)
    m = t.manifest()
    assert mor_state(m)[1]  # restored state is the tombstone-carrying one
    assert t.read().count() == 7
    assert 1 not in _vals(t)


def test_clone_shallow_and_deep_carry_state(spark, tmp_path):
    cat, t, w = _mk(spark, tmp_path, rows=10)
    w.delete_where("id < 4")
    sh = t.clone(str(tmp_path / "lake"), "sh")
    dp = t.clone(str(tmp_path / "lake"), "dp", deep=True)
    assert sh.read().count() == 6 and dp.read().count() == 6
    assert mor_state(dp.manifest())[1]
    # deep clone is self-contained: tombstones copied under its dir
    for tf in mor_state(dp.manifest())[1]:
        assert os.path.exists(os.path.join(dp.dir, tf))
    # writes to the clone do not disturb the source
    wc = LakeWriter(dp, pk=["id"], merge_mode=MODE_MOR)
    wc.merge(spark.createDataFrame([(8, "c8", 0)], "id int, val string, grp int"))
    assert _vals(dp)[8] == "c8" and _vals(t)[8] == "v8"


def test_changes_over_mor_span(spark, tmp_path):
    _, t, w = _mk(spark, tmp_path, rows=20)
    v1 = t.current_version()
    w.merge(
        spark.createDataFrame(
            [(5, "u5", 9), (100, "n100", 9)], "id int, val string, grp int"
        )
    )
    w.delete_where("id = 7")
    by = {}
    for r in t.changes(v1).collect():
        by.setdefault(r["_change_type"], {})[r["id"]] = r["val"]
    assert by.get("insert") == {100: "n100"}
    assert by.get("update") == {5: "u5"}
    assert set(by.get("delete", {})) == {7}
    # preimages mode over the same span
    pre = t.changes(v1, preimages=True)
    types = {r["_change_type"] for r in pre.collect()}
    assert {"update_preimage", "update_postimage"} <= types


def test_changes_across_materialization(spark, tmp_path):
    _, t, w = _mk(spark, tmp_path, rows=10)
    w.merge(spark.createDataFrame([(2, "u2", 9)], "id int, val string, grp int"))
    v2 = t.current_version()
    compact(t)  # content-identical rewrite clears state
    ch = t.changes(v2)
    assert ch.count() == 0  # no visible-row change across OPTIMIZE


def test_tblproperty_routes_sql_merge(spark, tmp_path):
    cat = LakeCatalog(spark, str(tmp_path / "lake"))
    cat.sql("CREATE TABLE ev (id INT, val STRING, PRIMARY KEY (id))")
    cat.sql(
        f"ALTER TABLE ev SET TBLPROPERTIES ('{TBLPROP_MERGE_MODE}'='merge-on-read')"
    )
    spark.createDataFrame(
        [(i, f"v{i}") for i in range(50)], "id int, val string"
    ).createOrReplaceTempView("mor_src1")
    cat.sql(
        "MERGE INTO ev t USING mor_src1 s ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
    )
    spark.createDataFrame([(3, "u3")], "id int, val string").createOrReplaceTempView(
        "mor_src2"
    )
    cat.sql(
        "MERGE INTO ev t USING mor_src2 s ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
    )
    t = cat.table("ev")
    assert t.manifest().props["last_op"] == "MERGE(MOR)"
    assert mor_state(t.manifest())[1]
    r = cat.sql("SELECT val FROM ev WHERE id = 3").collect()
    assert r[0]["val"] == "u3"
    cat.sql("OPTIMIZE ev")
    assert mor_state(cat.table("ev").manifest()) == ({}, {})


def test_bad_merge_mode_rejected(spark, tmp_path):
    cat = LakeCatalog(spark, str(tmp_path / "lake"))
    t = cat.table("t")
    w = LakeWriter(t, pk=["id"], merge_mode="bogus")
    with pytest.raises(ValueError, match="write.merge.mode"):
        w.merge(spark.createDataFrame([(1, "a")], "id int, val string"))


def test_auto_materialize_threshold(spark, tmp_path, monkeypatch):
    import ducklake_kafka_connect_spark.lake.mor as mor_mod

    monkeypatch.setattr(mor_mod, "MOR_AUTO_MATERIALIZE_DELETES", 2)
    _, t, w = _mk(spark, tmp_path, rows=10)
    for i in range(4):
        w.merge(
            spark.createDataFrame([(3, f"u{i}", 9)], "id int, val string, grp int")
        )
    # after crossing the threshold, compaction retired the tombstones
    assert len(mor_state(t.manifest())[1]) <= 2
    assert _vals(t)[3] == "u3"


def test_datasource_batch_read_applies_visibility(spark, tmp_path):
    from ducklake_kafka_connect_spark.sources.lake_datasource import (
        register_lake_datasource,
    )

    register_lake_datasource(spark)
    _, t, w = _mk(spark, tmp_path, rows=30)
    w.merge(spark.createDataFrame([(3, "u3", 9)], "id int, val string, grp int"))
    w.delete_where("id = 4")
    root = str(tmp_path / "lake")
    df = (
        spark.read.format("ducklake")
        .option("path", root)
        .option("table", "t")
        .load()
    )
    assert df.count() == 29
    assert df.filter("id = 3").collect()[0]["val"] == "u3"
    assert df.filter("id = 4").count() == 0
    # columns-projected read still applies visibility (pk rides the
    # parquet read internally, then drops)
    dfc = (
        spark.read.format("ducklake")
        .option("path", root)
        .option("table", "t")
        .option("columns", "val")
        .load()
    )
    assert dfc.columns == ["val"]
    assert dfc.count() == 29
    vals = {r["val"] for r in dfc.collect()}
    assert "u3" in vals and "v3" not in vals and "v4" not in vals


def test_datasource_stream_gates_on_tombstone_commits(spark, tmp_path):
    from ducklake_kafka_connect_spark.sources.lake_datasource import (
        register_lake_datasource,
    )

    register_lake_datasource(spark)
    _, t, w = _mk(spark, tmp_path, rows=10)
    w.merge(spark.createDataFrame([(3, "u3", 9)], "id int, val string, grp int"))
    root = str(tmp_path / "lake")

    def run(name, **opts):
        r = (
            spark.readStream.format("ducklake")
            .option("path", root)
            .option("table", "t")
            .option("startingVersion", 0)
        )
        for k, v in opts.items():
            r = r.option(k, v)
        q = (
            r.load()
            .writeStream.format("memory")
            .queryName(name)
            .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    with pytest.raises(Exception, match="tombstone"):
        run("mor_gate")
    run("mor_skip", skipChangeCommits="true")
    assert spark.sql("SELECT count(*) n FROM mor_skip").collect()[0]["n"] == 10
    run("mor_ign", ignoreChanges="true")
    # ignoreChanges re-delivers post-images of the MOR commit as appends
    assert spark.sql("SELECT count(*) n FROM mor_ign").collect()[0]["n"] == 11


def test_connector_table_spec_merge_mode(spark, tmp_path):
    """merge-mode rides the connector config into the ingest pipeline:
    upserts through IngestPipeline commit MOR delta+tombstone files."""
    import json

    from ducklake_kafka_connect_spark.connector_config import (
        build_from_properties,
    )
    from ducklake_kafka_connect_spark.streaming.ingest import TableSpec

    with pytest.raises(ValueError, match="merge-mode"):
        TableSpec(id_columns=["id"], merge_mode="bogus")
    props = {
        "name": "ducklake-sink",
        "topics": "t1",
        "value.converter": "org.apache.kafka.connect.json.JsonConverter",
        "topic2table.map": "t1:ev",
        "ducklake.data_path": str(tmp_path / "lake"),
        "ducklake.table.ev.id-columns": "id",
        "ducklake.table.ev.auto-create": "true",
        "ducklake.table.ev.merge-mode": "merge-on-read",
    }
    d = build_from_properties(spark, props)
    assert d.ingest.tables["ev"].merge_mode == "merge-on-read"
    pipe = d.pipeline()

    def batch(vals, off0):
        return spark.createDataFrame(
            [
                ("t1", 0, off0 + n, None,
                 json.dumps({"id": i, "v": v}), None, None)
                for n, (i, v) in enumerate(vals)
            ],
            "topic string, partition int, offset long, key binary, "
            "value string, timestamp timestamp, headers string",
        ).withColumn("value", F.col("value").cast("binary"))

    pipe.process_batch(batch([(1, "a"), (2, "b")], 0))
    pipe.process_batch(batch([(2, "B"), (3, "c")], 10))
    t = d.catalog.table("ev")
    assert t.manifest().props["last_op"].startswith("MERGE")
    assert mor_state(t.manifest())[1]  # tombstone from the overlap batch
    got = {r["id"]: r["v"] for r in t.read().collect()}
    assert got == {1: "a", 2: "B", 3: "c"}


def test_sink_upsert_mode_batch_and_stream(spark, tmp_path):
    """mergeKeys on the native sink: each write/epoch commits as one
    merge-on-read MERGE; restarted epochs replay idempotently."""
    from ducklake_kafka_connect_spark.lake import LakeTable
    from ducklake_kafka_connect_spark.sources.lake_datasource import (
        register_lake_datasource,
    )

    register_lake_datasource(spark)
    root = str(tmp_path / "lake")
    d1 = spark.createDataFrame(
        [(i, f"v{i}") for i in range(30)], "id long, val string"
    )
    d2 = spark.createDataFrame([(3, "u3"), (99, "n99")], "id long, val string")
    for d in (d1, d2):
        (
            d.write.format("ducklake").option("path", root)
            .option("table", "up").option("mergeKeys", "id")
            .mode("append").save()
        )
    t = LakeTable(spark, root, "up")
    assert t.manifest().props["last_op"] == "SINK_MERGE(MOR)"
    got = {r["id"]: r["val"] for r in t.read().collect()}
    assert len(got) == 31 and got[3] == "u3" and got[99] == "n99"
    # pk table without mergeKeys refused; wrong keys refused
    with pytest.raises(Exception, match="mergeKeys"):
        d2.write.format("ducklake").option("path", root).option(
            "table", "up"
        ).mode("append").save()
    with pytest.raises(Exception, match="do not match"):
        d2.write.format("ducklake").option("path", root).option(
            "table", "up"
        ).option("mergeKeys", "val").mode("append").save()
    # streaming upsert: two availableNow epochs with key overlap
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    spark.createDataFrame(
        [(i, f"s{i}") for i in range(10)], "id long, val string"
    ).coalesce(1).write.mode("overwrite").parquet(src + "/b1")
    sdf = spark.readStream.schema("id long, val string").parquet(src + "/*")

    def run():
        q = (
            sdf.writeStream.format("ducklake").option("path", root)
            .option("table", "sup").option("mergeKeys", "id")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(120)

    run()
    spark.createDataFrame(
        [(5, "S5"), (20, "S20")], "id long, val string"
    ).coalesce(1).write.mode("overwrite").parquet(src + "/b2")
    run()
    ts = LakeTable(spark, root, "sup")
    got = {r["id"]: r["val"] for r in ts.read().collect()}
    assert len(got) == 11 and got[5] == "S5" and got[20] == "S20"
    assert ts.manifest().props["last_op"] == "SINK_MERGE(MOR)"
    # OPTIMIZE retires the sink's accumulated tombstones
    compact(ts)
    assert mor_state(ts.manifest()) == ({}, {})
    assert {r["id"]: r["val"] for r in ts.read().collect()} == got


@pytest.mark.parametrize("kw", [
    {"manifest_format": "binary"},
    {"backend": "cas"},
], ids=["binary-manifest", "cas-backend"])
def test_mor_roundtrip_other_manifest_and_backend(spark, tmp_path, kw):
    """MOR state rides props whole → the binary (Avro) manifest form and
    the object-store CAS commit protocol need no serialization change;
    pin the full upsert/delete/materialize cycle on both."""
    cat = LakeCatalog(spark, str(tmp_path / "lake"), **kw)
    t = cat.table("t")
    w = LakeWriter(t, pk=["id"], merge_mode=MODE_MOR)
    w.merge(
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(40)], "id int, val string"
        )
    )
    w.merge(spark.createDataFrame([(3, "u3"), (99, "n99")], "id int, val string"))
    w.delete_where("id = 7")
    assert mor_state(t.manifest())[1]
    got = _vals(t)
    assert len(got) == 40 and got[3] == "u3" and 7 not in got
    # time travel through the (possibly delta-encoded) chain
    assert len(_vals(t, version=1)) == 40
    compact(t)
    assert mor_state(t.manifest()) == ({}, {})
    assert _vals(t) == got


def test_over_broadcast_cap_shuffle_antijoin_parity(spark, tmp_path, monkeypatch):
    """r13: the tombstone union past MOR_BROADCAST_BYTES degrades to a
    shuffle anti-join by design — that branch must produce EXACTLY the
    broadcast plan's visible rows (and the CDF built on read_visible
    must agree too)."""
    import ducklake_kafka_connect_spark.lake.mor as mor_mod
    from ducklake_kafka_connect_spark.lake.mor import _tombstone_frame

    _, t, w = _mk(spark, tmp_path, rows=500)
    v0 = t.current_version()
    w.merge(
        spark.createDataFrame(
            [(i, f"u{i}", 9) for i in range(100, 300)],
            "id int, val string, grp int",
        )
    )
    w.delete_where("id < 50")
    assert mor_state(t.manifest())[1], "standing tombstones required"
    broadcast_rows = sorted((r["id"], r["val"]) for r in t.read().collect())
    ch_b = sorted(
        (r["id"], r["_change_type"]) for r in t.changes(v0).collect()
    )
    # force the over-cap branch: every tombstone union is now "too big"
    monkeypatch.setattr(mor_mod, "MOR_BROADCAST_BYTES", 0)
    tomb, _, small = _tombstone_frame(t, t.manifest(), mor_state(t.manifest())[1])
    assert not small, "cap override must select the shuffle path"
    shuffle_rows = sorted((r["id"], r["val"]) for r in t.read().collect())
    ch_s = sorted(
        (r["id"], r["_change_type"]) for r in t.changes(v0).collect()
    )
    assert shuffle_rows == broadcast_rows
    assert ch_s == ch_b
    assert len(broadcast_rows) == 450
    assert dict(broadcast_rows)[150] == "u150"


def test_sink_upsert_schema_evolution(spark, tmp_path):
    """r13: mergeKeys + schema drift — a (restarted) stream carrying a
    NEW column evolves the table via a metadata-only ADD COLUMN at plan
    time; older epochs' files null-fill; a NARROWER later frame
    null-fills the missing column executor-side; a type CHANGE refuses
    with a named-column error."""
    from ducklake_kafka_connect_spark.lake import LakeTable
    from ducklake_kafka_connect_spark.sources.lake_datasource import (
        register_lake_datasource,
    )

    register_lake_datasource(spark)
    root = str(tmp_path / "lake")

    def sink(d, table="evo"):
        (
            d.write.format("ducklake").option("path", root)
            .option("table", table).option("mergeKeys", "id")
            .mode("append").save()
        )

    sink(spark.createDataFrame([(1, "a"), (2, "b")], "id long, val string"))
    # wider frame: new nullable column arrives mid-stream
    sink(
        spark.createDataFrame(
            [(2, "B", 20), (3, "c", 30)], "id long, val string, score long"
        )
    )
    t = LakeTable(spark, root, "evo")
    assert "score" in t.manifest().schema.fieldNames()
    got = {r["id"]: (r["val"], r["score"]) for r in t.read().collect()}
    assert got == {1: ("a", None), 2: ("B", 20), 3: ("c", 30)}
    # narrower frame again (an old-schema producer replays): null-fills
    sink(spark.createDataFrame([(4, "d")], "id long, val string"))
    got = {r["id"]: (r["val"], r["score"]) for r in LakeTable(spark, root, "evo").read().collect()}
    assert got[4] == ("d", None) and got[2] == ("B", 20)
    # type change still refuses, naming the column
    with pytest.raises(Exception, match="val"):
        sink(spark.createDataFrame([(5, 9)], "id long, val long"))


def test_sink_upsert_partitioned_table(spark, tmp_path):
    """r13: mergeKeys over a PARTITION-SPEC'd table — delta files land
    under hive dirs, the per-task tombstone suppresses older copies
    across partitions, and a key that MOVES partition is upserted (one
    visible row, in the new partition)."""
    from ducklake_kafka_connect_spark.lake import LakeCatalog, LakeWriter
    from ducklake_kafka_connect_spark.lake import LakeTable
    from ducklake_kafka_connect_spark.sources.lake_datasource import (
        register_lake_datasource,
    )

    register_lake_datasource(spark)
    root = str(tmp_path / "lake")
    cat = LakeCatalog(spark, root)
    LakeWriter(
        cat.table("pev"), pk=["id"], partition_by="grp"
    ).write(
        spark.createDataFrame(
            [(i, f"v{i}", i % 3) for i in range(30)],
            "id long, val string, grp int",
        )
    )
    batch = spark.createDataFrame(
        [(3, "u3", 0), (4, "moved", 0), (99, "n99", 2)],
        "id long, val string, grp int",
    )  # id=4 was grp=1, moves to grp=0
    (
        batch.write.format("ducklake").option("path", root)
        .option("table", "pev").option("mergeKeys", "id")
        .mode("append").save()
    )
    t = LakeTable(spark, root, "pev")
    assert t.manifest().props["last_op"] == "SINK_MERGE(MOR)"
    assert mor_state(t.manifest())[1]
    got = {r["id"]: (r["val"], r["grp"]) for r in t.read().collect()}
    assert len(got) == 31
    assert got[3] == ("u3", 0) and got[4] == ("moved", 0) and got[99] == ("n99", 2)
    # partition pruning still holds post-upsert: grp=1 excludes id=4 now
    grp1 = {r["id"] for r in t.read(where="grp = 1").collect()}
    assert 4 not in grp1 and 1 in grp1
    compact(t)
    got2 = {r["id"]: (r["val"], r["grp"]) for r in LakeTable(spark, root, "pev").read().collect()}
    assert got2 == got
