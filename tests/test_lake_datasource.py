"""The `ducklake` Python DataSource (sources/lake_datasource.py): lake
tables as a native Spark format — batch reads with manifest-stat filter
pushdown, and a streaming source whose offset log is the manifest
version chain (Delta-streaming-source contract: append-only by default,
skipChangeCommits / ignoreChanges for rewrite commits)."""

import os

import pytest
from pyspark.sql import functions as F

from ducklake_kafka_connect_spark.lake import LakeCatalog, LakeWriter
from ducklake_kafka_connect_spark.sources.lake_datasource import (
    _BatchReader,
    register_lake_datasource,
)


@pytest.fixture
def lake(spark, tmp_path):
    register_lake_datasource(spark)
    return str(tmp_path / "lake")


def _mk(spark, lake, name="ev", pk=None):
    cat = LakeCatalog(spark, lake)
    t = cat.table(name)
    return t, LakeWriter(t, pk=pk or [])


def _rows(spark, lake, n0, n1, name="ev"):
    t, w = _mk(spark, lake, name)
    w.append(spark.range(n0).select(
        F.col("id"), (F.col("id") * 2).alias("v"), F.lit("a").alias("s")))
    w.append(spark.range(n0, n1).select(
        F.col("id"), (F.col("id") * 2).alias("v"), F.lit("b").alias("s")))
    return t


def _load(spark, lake, name="ev", **opts):
    r = spark.read.format("ducklake").option("path", lake).option("table", name)
    for k, v in opts.items():
        r = r.option(k, v)
    return r.load()


class TestBatch:
    def test_matches_engine_read(self, spark, lake):
        t = _rows(spark, lake, 60, 100)
        via_ds = _load(spark, lake).select("id", "v", "s")
        via_api = t.read().select("id", "v", "s")
        assert sorted(map(tuple, via_ds.collect())) == sorted(map(tuple, via_api.collect()))
        # same names and types (nullability flags may differ: the DS
        # declares the manifest surface, the parquet read relaxes)
        assert [(f.name, f.dataType) for f in via_ds.schema] == [
            (f.name, f.dataType) for f in via_api.schema
        ]

    def test_filter_pushdown_prunes_files(self, spark, lake):
        _rows(spark, lake, 60, 100)  # two appends → ≥2 files, disjoint ranges
        df = _load(spark, lake).filter(F.col("id") == 80)
        assert [r["v"] for r in df.collect()] == [160]
        # reader-level proof: the pushed filter narrows the partition list
        from pyspark.sql.datasource import EqualTo

        t, _ = _mk(spark, lake)
        rd = _BatchReader(
            {"path": lake, "table": "ev"}, t.read().schema
        )
        n_all = len(rd.partitions())
        rd2 = _BatchReader({"path": lake, "table": "ev"}, t.read().schema)
        unsupported = list(rd2.pushFilters([EqualTo(("id",), 80)]))
        assert len(unsupported) == 1, "filters are re-applied row-level"
        assert len(rd2.partitions()) < n_all

    def test_time_travel_version_and_tag(self, spark, lake):
        t, w = _mk(spark, lake)
        w.append(spark.range(60).select(
            F.col("id"), (F.col("id") * 2).alias("v"), F.lit("a").alias("s")))
        v0 = t.current_version()  # first data-bearing version
        w.append(spark.range(60, 100).select(
            F.col("id"), (F.col("id") * 2).alias("v"), F.lit("b").alias("s")))
        t.tag("first", v0)
        assert _load(spark, lake, version=str(v0)).count() == 60
        assert _load(spark, lake, tag="first").count() == 60
        assert _load(spark, lake).count() == 100

    def test_rename_and_schema_evolution(self, spark, lake):
        t, w = _mk(spark, lake, "r")
        w.append(spark.range(10).select(F.col("id"), F.lit("x").alias("name")))
        t.rename_column("name", "label")
        w2 = LakeWriter(LakeCatalog(spark, lake).table("r"))
        w2.append(
            spark.range(10, 15).select(
                F.col("id"), F.lit("y").alias("label"), F.lit(1.5).alias("score")
            )
        )
        df = _load(spark, lake, "r")
        assert "label" in df.columns and "score" in df.columns
        got = {r["id"]: (r["label"], r["score"]) for r in df.collect()}
        assert got[3] == ("x", None), "pre-evolution file null-fills"
        assert got[12] == ("y", 1.5)

    def test_cas_backend_option(self, spark, tmp_path):
        register_lake_datasource(spark)
        lake = str(tmp_path / "lake_cas")
        cat = LakeCatalog(spark, lake, backend="cas")
        LakeWriter(cat.table("c")).append(
            spark.range(7).select(F.col("id"), F.lit("z").alias("s"))
        )
        df = _load(spark, lake, "c", backend="cas")
        assert df.count() == 7


def _run_stream(spark, lake, name="ev", qname="q", **opts):
    r = spark.readStream.format("ducklake").option("path", lake).option("table", name)
    for k, v in opts.items():
        r = r.option(k, v)
    q = (
        r.load()
        .writeStream.format("memory")
        .queryName(qname)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    q.stop()
    return spark.sql(f"SELECT * FROM {qname}")


class TestStream:
    def test_full_replay_and_incremental(self, spark, lake):
        t = _rows(spark, lake, 60, 100)
        out = _run_stream(spark, lake, qname="q_full", startingVersion="0")
        assert out.count() == 100
        tip = t.current_version()
        LakeWriter(t).append(
            spark.range(100, 110).select(
                F.col("id"), (F.col("id") * 2).alias("v"), F.lit("c").alias("s")
            )
        )
        inc = _run_stream(
            spark, lake, qname="q_inc", startingVersion=str(tip + 1)
        )
        got = sorted(r["id"] for r in inc.collect())
        assert got == list(range(100, 110)), "exactly the new commit's rows"

    def test_non_append_commit_raises_by_default(self, spark, lake):
        t, w = _mk(spark, lake, "m", pk=["id"])
        w.write(spark.range(20).select(F.col("id"), F.lit("a").alias("s")))
        w.write(spark.range(5).select(F.col("id"), F.lit("b").alias("s")))  # rewrite
        with pytest.raises(Exception) as ei:
            _run_stream(spark, lake, "m", qname="q_err", startingVersion="0")
        assert "not append-only" in str(ei.value)

    def test_skip_change_commits_and_ignore_changes(self, spark, lake):
        t, w = _mk(spark, lake, "m2", pk=["id"])
        w.write(spark.range(20).select(F.col("id"), F.lit("a").alias("s")))
        v_base = t.current_version()
        w.write(spark.range(5).select(F.col("id"), F.lit("b").alias("s")))  # rewrite
        w.write(spark.range(20, 25).select(F.col("id"), F.lit("c").alias("s")))  # merge-route insert
        skip = _run_stream(
            spark, lake, "m2", qname="q_skip",
            startingVersion=str(v_base + 1), skipChangeCommits="true",
        )
        assert all(r["s"] == "c" for r in skip.collect())
        ign = _run_stream(
            spark, lake, "m2", qname="q_ign",
            startingVersion=str(v_base + 1), ignoreChanges="true",
        )
        # rewrite commit's files re-deliver rewritten content too
        assert ign.filter(F.col("s") == "b").count() >= 5
        assert ign.filter(F.col("s") == "c").count() == 5


class TestSink:
    def test_append_autocreate_and_roundtrip(self, spark, lake):
        df = spark.range(50).select(
            F.col("id"), (F.col("id") * 3).alias("v"), F.lit("w").alias("s")
        )
        df.write.format("ducklake").option("path", lake).option(
            "table", "sink"
        ).mode("append").save()
        spark.range(50, 70).select(
            F.col("id"), (F.col("id") * 3).alias("v"), F.lit("x").alias("s")
        ).write.format("ducklake").option("path", lake).option(
            "table", "sink"
        ).mode("append").save()
        t = LakeCatalog(spark, lake).table("sink")
        assert t.read().count() == 70
        # footer stats were harvested executor-side: the engine's stat
        # prune must narrow a point read to one file
        files, _ = t.prune_files("id = 60")
        assert len(files) < len(t.manifest().all_files())
        got = {r["id"]: (r["v"], r["s"]) for r in t.read().collect()}
        assert got[60] == (180, "x") and got[10] == (30, "w")
        # _inserted_at stamped on every sink row
        assert (
            t.read(include_hidden=True).filter(F.col("_inserted_at").isNull()).count()
            == 0
        )
        # and the ducklake READER sees the sink's rows back
        assert _load(spark, lake, "sink").count() == 70

    def test_overwrite_mode(self, spark, lake):
        df = spark.range(30).select(F.col("id"), F.lit("a").alias("s"))
        df.write.format("ducklake").option("path", lake).option(
            "table", "ow"
        ).mode("append").save()
        spark.range(5).select(F.col("id"), F.lit("b").alias("s")).write.format(
            "ducklake"
        ).option("path", lake).option("table", "ow").mode("overwrite").save()
        t = LakeCatalog(spark, lake).table("ow")
        assert t.read().count() == 5
        assert {r["s"] for r in t.read().collect()} == {"b"}
        # history preserved: the pre-overwrite version still reads
        assert t.read(version=t.current_version() - 1).count() == 30

    def test_pk_partitioned_and_schema_guards(self, spark, lake):
        cat = LakeCatalog(spark, lake)
        LakeWriter(cat.table("pkt"), pk=["id"]).write(
            spark.range(5).select(F.col("id"), F.lit("a").alias("s"))
        )
        df = spark.range(5).select(F.col("id"), F.lit("b").alias("s"))
        with pytest.raises(Exception, match="PRIMARY KEY"):
            df.write.format("ducklake").option("path", lake).option(
                "table", "pkt"
            ).mode("append").save()
        # partitioned tables write through the sink since r12 (task-local
        # hive splitting) — the old refusal is gone; parity tested in
        # TestPartitionedSink
        LakeWriter(cat.table("sch")).append(
            spark.range(3).select(F.col("id"), F.lit("a").alias("s"))
        )
        # r13: a NARROWER frame null-fills the missing column (the
        # connector's conform semantics) instead of refusing
        spark.range(3, 5).select(F.col("id")).write.format("ducklake").option(
            "path", lake
        ).option("table", "sch").mode("append").save()
        got = {r["id"]: r["s"] for r in cat.table("sch").read().collect()}
        assert got == {0: "a", 1: "a", 2: "a", 3: None, 4: None}
        # a TYPE change still refuses, naming the column
        with pytest.raises(Exception, match="type mismatch.*s "):
            spark.range(3).select(
                F.col("id"), F.col("id").alias("s")
            ).write.format("ducklake").option("path", lake).option(
                "table", "sch"
            ).mode("append").save()

    def test_stream_sink_epoch_idempotence(self, spark, lake):
        """Replayed micro-batch (same batchId) must not double-append:
        the epoch rides the manifest's txns marker and the re-staged
        files are dropped — exercised at the writer-commit level where
        the replay can be forced deterministically."""
        from ducklake_kafka_connect_spark.sources.lake_datasource import (
            _StreamWriter,
            _WriteResult,
        )

        cat = LakeCatalog(spark, lake)
        LakeWriter(cat.table("ss")).append(
            spark.range(3).select(F.col("id"), F.lit("seed").alias("s"))
        )
        t = cat.table("ss")
        schema = spark.range(1).select(F.col("id"), F.lit("x").alias("s")).schema
        w = _StreamWriter({"path": lake, "table": "ss"}, schema, overwrite=False)
        import os as _os

        import pyarrow as pa

        def stage(tag):
            msg = w.write(
                iter(
                    pa.table(
                        {"id": [100, 101], "s": [tag, tag]}
                    ).to_batches()
                )
            )
            return msg

        m1 = stage("e1")
        w.commit([m1], batchId=7)
        assert t.read().count() == 5
        # Spark replays epoch 7 after a crash: files re-staged, commit skipped
        m1b = stage("e1-replay")
        v_before = t.current_version()
        w.commit([m1b], batchId=7)
        assert t.current_version() == v_before, "replayed epoch commits nothing"
        assert t.read().count() == 5
        assert not _os.path.exists(
            _os.path.join(t.dir, m1b.entries[0][1])
        ), "replayed epoch's staged files are dropped"
        # the next epoch proceeds normally
        m2 = stage("e2")
        w.commit([m2], batchId=8)
        assert t.read().count() == 7
        assert t.manifest().props["txns"][w.app] == 8

    def test_abort_cleans_staged_files(self, spark, lake):
        from ducklake_kafka_connect_spark.sources.lake_datasource import (
            _BatchWriter,
        )

        cat = LakeCatalog(spark, lake)
        LakeWriter(cat.table("ab")).append(
            spark.range(2).select(F.col("id"), F.lit("a").alias("s"))
        )
        t = cat.table("ab")
        schema = spark.range(1).select(F.col("id"), F.lit("x").alias("s")).schema
        import os as _os

        import pyarrow as pa

        w = _BatchWriter({"path": lake, "table": "ab"}, schema, overwrite=False)
        msg = w.write(iter(pa.table({"id": [9], "s": ["z"]}).to_batches()))
        staged = _os.path.join(t.dir, msg.entries[0][1])
        assert _os.path.exists(staged)
        w.abort([msg])
        assert not _os.path.exists(staged)
        assert t.read().count() == 2

    def test_vacuum_grace_protects_staged_files(self, spark, lake):
        """The orphan-grace contract the sink relies on: a freshly
        staged (never-referenced) file survives vacuum inside the grace
        window and is reclaimed past it."""
        from ducklake_kafka_connect_spark.lake.maintenance import vacuum
        from ducklake_kafka_connect_spark.sources.lake_datasource import (
            _BatchWriter,
        )

        cat = LakeCatalog(spark, lake)
        LakeWriter(cat.table("gr")).append(
            spark.range(4).select(F.col("id"), F.lit("a").alias("s"))
        )
        # overwrite drops the first version's files from the tip → they
        # become dropped-version garbage vacuum reclaims at any age
        spark.range(4).select(F.col("id"), F.lit("b").alias("s")).write.format(
            "ducklake"
        ).option("path", lake).option("table", "gr").mode("overwrite").save()
        t = cat.table("gr")
        schema = spark.range(1).select(F.col("id"), F.lit("x").alias("s")).schema
        import os as _os

        import pyarrow as pa

        w = _BatchWriter({"path": lake, "table": "gr"}, schema, overwrite=False)
        msg = w.write(iter(pa.table({"id": [9], "s": ["z"]}).to_batches()))
        staged = _os.path.join(t.dir, msg.entries[0][1])
        deleted = vacuum(t, keep_versions=1)  # default grace: staged survives
        assert deleted > 0, "dropped-version files still reclaimed"
        assert _os.path.exists(staged), "in-flight staged file survives vacuum"
        w.commit([msg])  # the in-flight write lands fine afterwards
        assert t.read().count() == 5
        # debris (never committed) IS reclaimed once past the grace
        msg2 = w.write(iter(pa.table({"id": [10], "s": ["d"]}).to_batches()))
        debris = _os.path.join(t.dir, msg2.entries[0][1])
        vacuum(t, keep_versions=1, orphan_grace_s=0.0)
        assert not _os.path.exists(debris)


class TestMedallion:
    def test_lake_to_lake_incremental_pipeline(self, spark, lake, tmp_path):
        """Bronze→silver through the format alone: readStream('ducklake')
        follows bronze's manifest versions, a transform runs per
        micro-batch, writeStream('ducklake') lands silver with epoch
        idempotence — then a SECOND bronze commit flows through an
        incremental restart from the same checkpoint (no reprocessing:
        silver gains exactly the new rows)."""
        cp = str(tmp_path / "cp")
        t_b, w_b = _mk(spark, lake, "bronze")
        w_b.append(spark.range(40).select(
            F.col("id"), (F.col("id") % 4).alias("k"), (F.col("id") * 2).alias("v")))

        def run_once():
            q = (
                spark.readStream.format("ducklake")
                .option("path", lake).option("table", "bronze")
                .option("startingVersion", "0")
                .load()
                .withColumn("v2", F.col("v") * 10)
                .select("id", "k", "v2")
                .writeStream.format("ducklake")
                .option("path", lake).option("table", "silver")
                .option("checkpointLocation", cp)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)
            q.stop()

        run_once()
        t_s = LakeCatalog(spark, lake).table("silver")
        assert t_s.read().count() == 40
        # incremental: new bronze commit, restart from the checkpoint
        w_b.append(spark.range(40, 50).select(
            F.col("id"), (F.col("id") % 4).alias("k"), (F.col("id") * 2).alias("v")))
        run_once()
        got = {r["id"]: r["v2"] for r in t_s.read().collect()}
        assert len(got) == 50, "exactly the new rows were appended"
        assert got[45] == 900
        # replayed run with NO new bronze data appends nothing
        v = t_s.current_version()
        run_once()
        assert t_s.current_version() == v
        assert t_s.read().count() == 50


class TestSinkParity:
    """Sink tasks write through the engine's Arrow writer: the table's
    codec, PK-first stats and Bloom sidecars, and the task's harvest or
    Bloom skips counted on the driver."""

    def test_sink_honours_write_compression(self, spark, lake):
        import pyarrow.parquet as pq

        t = LakeCatalog(spark, lake).table("z")
        src = spark.range(20).select(F.col("id"), F.lit("a").alias("s"))
        t.create(src.schema, pk=[])
        t.set_properties({"write.compression": "zstd"})
        src.write.format("ducklake").option("path", lake).option(
            "table", "z"
        ).mode("append").save()
        files = t.manifest().all_files()
        assert files
        codecs = {
            pq.ParquetFile(os.path.join(t.dir, f)).metadata.row_group(0)
            .column(0).compression
            for f in files
        }
        assert codecs == {"ZSTD"}

    def test_sink_upsert_files_get_pk_stats_and_bloom_sidecars(self, spark, lake):
        t = LakeCatalog(spark, lake).table("u")
        src = spark.range(20).select(F.lit("a").alias("s"), F.col("id"))
        t.create(src.schema, pk=["id"])
        src.write.format("ducklake").option("path", lake).option(
            "table", "u"
        ).option("mergeKeys", "id").mode("append").save()
        m = t.manifest()
        assert m.all_files()
        for f in m.all_files():
            assert os.path.exists(os.path.join(t.dir, f) + ".bloom"), f
            assert [c for c in m.file_stats[f] if not c.startswith("__")][0] == "id"
        assert t.read().count() == 20

    def test_task_bloom_skips_are_counted_on_the_driver(
        self, spark, lake, monkeypatch
    ):
        import pyarrow as pa

        from ducklake_kafka_connect_spark.lake import table as tmod
        from ducklake_kafka_connect_spark.metrics import REGISTRY
        from ducklake_kafka_connect_spark.sources.lake_datasource import (
            _BatchWriter,
        )

        t = LakeCatalog(spark, lake).table("k")
        schema = spark.range(1).schema
        t.create(schema, pk=["id"])
        w = _BatchWriter({"path": lake, "table": "k", "mergekeys": "id"}, schema, False)
        monkeypatch.setattr(tmod, "_write_bloom_sidecar", lambda *a: False)
        msg = w.write(iter(pa.table({"id": [1, 2, 3]}).to_batches()))
        assert msg.skips == {"write.bloomSkip": 1}
        before = REGISTRY.snapshot()["counters"].get("write.bloomSkip", 0)
        w.commit([msg])
        assert REGISTRY.snapshot()["counters"].get("write.bloomSkip", 0) == before + 1
        assert t.read().count() == 3


class TestSinkRename:
    def test_sink_writes_physical_names_after_rename(self, spark, lake):
        """The sink's write boundary must translate logical→physical:
        after RENAME COLUMN the staged files carry the files' physical
        name and both the engine read and the DS read surface the
        logical one."""
        t, w = _mk(spark, lake, "rn")
        w.append(spark.range(5).select(F.col("id"), F.lit("a").alias("name")))
        t.rename_column("name", "label")
        spark.range(5, 9).select(
            F.col("id"), F.lit("b").alias("label")
        ).write.format("ducklake").option("path", lake).option(
            "table", "rn"
        ).mode("append").save()
        t2 = LakeCatalog(spark, lake).table("rn")
        got = {r["id"]: r["label"] for r in t2.read().collect()}
        assert len(got) == 9 and got[2] == "a" and got[7] == "b"
        ds = {r["id"]: r["label"] for r in _load(spark, lake, "rn").collect()}
        assert ds == got
        # the physical in-file column is the pre-rename name
        import pyarrow.parquet as pq

        m = t2.manifest()
        newest = [f for fl in m.files.values() for f in fl][-1]
        import os as _os

        cols = pq.read_schema(_os.path.join(t2.dir, newest)).names
        assert "name" in cols and "label" not in cols


class TestColumnsOption:
    """`.option("columns", ...)` — the explicit projection that stands in
    for the column-pruning hook PySpark's Python DataSource API lacks
    (VERDICT r11 "What's wrong #2"): the declared schema narrows AND the
    executor-side parquet read touches only those columns' pages."""

    def test_projects_and_matches_engine(self, spark, lake):
        t = _rows(spark, lake, 60, 100)
        df = _load(spark, lake, columns="v,s")
        assert df.columns == ["v", "s"]
        assert sorted(map(tuple, df.collect())) == sorted(
            map(tuple, t.read().select("v", "s").collect())
        )

    def test_arrow_batches_carry_only_selected_columns(self, spark, lake):
        from ducklake_kafka_connect_spark.sources.lake_datasource import (
            _BatchReader,
            _read_file_slices,
        )

        _rows(spark, lake, 60, 100)
        t, _ = _mk(spark, lake)
        narrow = t.read().select("v").schema
        rd = _BatchReader({"path": lake, "table": "ev"}, narrow)
        batches = [b for p in rd.partitions() for b in rd.read(p)]
        assert batches and all(b.schema.names == ["v"] for b in batches)

    def test_after_rename_reads_logical_name(self, spark, lake):
        t, w = _mk(spark, lake, "r")
        w.append(spark.range(10).select(F.col("id"), F.lit("x").alias("name")))
        t.rename_column("name", "label")
        df = _load(spark, lake, "r", columns="label")
        assert df.columns == ["label"]
        assert {r["label"] for r in df.collect()} == {"x"}

    def test_unknown_column_raises(self, spark, lake):
        _rows(spark, lake, 5, 8)
        with pytest.raises(Exception, match="unknown column"):
            _load(spark, lake, columns="nope").collect()

    def test_column_postdating_file_nullfills_from_footer(self, spark, lake):
        """Selecting ONLY a column an old file predates must still yield
        that file's row count (all-null) — row count from the footer,
        zero pages read."""
        t, w = _mk(spark, lake, "evo")
        w.append(spark.range(10).select(F.col("id")))
        w2 = LakeWriter(LakeCatalog(spark, lake).table("evo"))
        w2.append(spark.range(10, 15).select(F.col("id"), F.lit(1.5).alias("score")))
        df = _load(spark, lake, "evo", columns="score")
        rows = df.collect()
        assert len(rows) == 15
        assert sum(r["score"] is None for r in rows) == 10

    def test_backticked_name_with_comma(self, spark, lake):
        t, w = _mk(spark, lake, "h")
        w.append(
            spark.range(4).select(F.col("id"), F.lit("x").alias("a,b"))
        )
        df = _load(spark, lake, "h", columns="`a,b`,id")
        assert df.columns == ["a,b", "id"]
        assert df.count() == 4


class TestStreamV0AndVacuum:
    def test_starting_version_zero_emits_clone_v0_files(self, spark, lake):
        """A shallow clone's v0 ALREADY carries files; a full replay
        (startingVersion=0) must emit them, not treat v0 as the
        already-processed baseline (ADVICE r11 #1)."""
        t = _rows(spark, lake, 30, 50)
        import os

        t.clone(os.path.dirname(t.dir), "ev_clone")
        out = _run_stream(spark, lake, "ev_clone", qname="q_v0", startingVersion="0")
        assert out.count() == 50

    def test_vacuumed_version_raises_descriptive_error(self, spark, lake):
        from ducklake_kafka_connect_spark.lake.maintenance import vacuum
        from ducklake_kafka_connect_spark.sources.lake_datasource import (
            _StreamReader,
        )

        t, w = _mk(spark, lake, "vac")
        for i in range(6):
            w.append(spark.range(i * 5, i * 5 + 5).select(F.col("id")))
        vacuum(t, keep_versions=1, orphan_grace_s=0)
        rd = _StreamReader({"path": lake, "table": "vac"}, t.read().schema)
        with pytest.raises(RuntimeError, match="vacuum retention"):
            rd.partitions({"version": 0}, {"version": t.current_version()})


class TestStartingTimestamp:
    def test_stream_from_timestamp(self, spark, lake):
        from ducklake_kafka_connect_spark.sources.lake_datasource import (
            _StreamReader,
        )

        t = _rows(spark, lake, 30, 50)  # v1 = 30 rows, v2 = 20 rows
        ts2 = float(t.manifest(2).props["committed_at"])
        rd = _StreamReader(
            {"path": lake, "table": "ev", "startingtimestamp": str(ts2)},
            t.read().schema,
        )
        off = rd.initialOffset()
        assert off == {"version": 1}, "v2 is the earliest commit at/after ts2"
        out = _run_stream(
            spark, lake, qname="q_ts", startingTimestamp=str(ts2)
        )
        assert out.count() == 20
        # timestamp after every commit → only future commits
        rd2 = _StreamReader(
            {"path": lake, "table": "ev", "startingtimestamp": str(ts2 + 9e5)},
            t.read().schema,
        )
        assert rd2.initialOffset() == {"version": t.current_version()}
        with pytest.raises(ValueError, match="not both"):
            _StreamReader(
                {"path": lake, "table": "ev", "startingversion": "0",
                 "startingtimestamp": str(ts2)},
                t.read().schema,
            )


class TestPartitionedSink:
    """r12: the sink writes partitioned tables WITHOUT a shuffle — each
    task splits its Arrow batches by partition value (derived year/month/
    day computed executor-side, UTC) and stages hive dirs whose canonical
    keys are interchangeable with engine-written ones."""

    def _mk_part(self, spark, lake, name, spec="month(ts)"):
        cat = LakeCatalog(spark, lake)
        t = cat.table(name)
        t.create(
            spark.range(1).select(
                F.col("id"), F.timestamp_seconds(F.lit(0)).alias("ts")
            ).schema,
            pk=[],
            partition_by=spec,
        )
        return cat, t

    def _batch(self, spark, lo, hi):
        # ids spread over three months of 2024
        return spark.range(lo, hi).select(
            F.col("id"),
            F.timestamp_seconds(
                F.lit(1704067200) + (F.col("id") % 3) * 2678400
            ).alias("ts"),
        )

    def test_sink_layout_matches_engine_canonically(self, spark, lake):
        from ducklake_kafka_connect_spark.lake.partitioning import (
            dir_key_to_canon_tuple,
        )

        cat, t = self._mk_part(spark, lake, "ps")
        self._batch(spark, 0, 30).write.format("ducklake").option(
            "path", lake
        ).option("table", "ps").mode("append").save()
        _, t2 = self._mk_part(spark, lake, "pe")
        LakeWriter(t2, auto_create=False).append(self._batch(spark, 0, 30))
        m1, m2 = t.manifest(), t2.manifest()
        exprs = m1.partition_exprs
        keys1 = {dir_key_to_canon_tuple(k, exprs) for k in m1.files}
        keys2 = {dir_key_to_canon_tuple(k, exprs) for k in m2.files}
        assert keys1 == keys2 and len(keys1) == 3
        # contents identical through the engine read
        assert sorted(map(tuple, t.read().select("id").collect())) == sorted(
            map(tuple, t2.read().select("id").collect())
        )
        # derived data column rides inside the files (hidden by default)
        hid = t.read(include_hidden=True)
        assert "_p_month_ts" in hid.columns
        assert hid.filter(F.col("_p_month_ts").isNull()).count() == 0

    def test_partition_stats_prune_files(self, spark, lake):
        cat, t = self._mk_part(spark, lake, "pr")
        self._batch(spark, 0, 60).write.format("ducklake").option(
            "path", lake
        ).option("table", "pr").mode("append").save()
        files, _ = t.prune_files("_p_month_ts = 2")
        assert 0 < len(files) < len(t.manifest().all_files())

    def test_raw_string_partition_with_specials_and_null(
        self, spark, lake, monkeypatch
    ):
        from ducklake_kafka_connect_spark.lake import writer as wmod

        cat = LakeCatalog(spark, lake)
        t = cat.table("pq")
        src = spark.createDataFrame(
            [(1, "a/b=c"), (2, "plain"), (3, None), (4, "")], "id long, grp string"
        )
        t.create(src.schema, pk=[], partition_by="grp")
        src.write.format("ducklake").option("path", lake).option(
            "table", "pq"
        ).mode("append").save()
        got = {r["id"]: r["grp"] for r in t.read().collect()}
        assert got == {1: "a/b=c", 2: "plain", 3: None, 4: ""}
        assert len(t.manifest().files) == 3
        # the dirs Spark's partitionBy names for the same rows
        monkeypatch.setattr(wmod.LakeWriter, "ARROW_APPEND_MAX_BYTES", -1)
        ref = cat.table("pq_spark")
        LakeWriter(ref, partition_by="grp").append(src)
        assert sorted(t.manifest().files) == sorted(ref.manifest().files)
        # the engine's own key parser round-trips the escaped dir
        from ducklake_kafka_connect_spark.lake.partitioning import (
            dir_key_to_canon_tuple,
        )

        canon = {
            dir_key_to_canon_tuple(k, t.manifest().partition_exprs)[0]
            for k in t.manifest().files
        }
        assert canon == {"a/b=c", "plain", None}

    def test_streaming_sink_partitioned(self, spark, lake):
        cat, t = self._mk_part(spark, lake, "pst")
        ckpt = os.path.join(lake, "_ckpt_pst")
        src = self._batch(spark, 0, 40)
        src.createOrReplaceTempView("pst_src")
        q = (
            spark.readStream.format("rate-micro-batch")
            .option("rowsPerBatch", 40)
            .option("numPartitions", 2)
            .load()
            .select(
                F.col("value").alias("id"),
                F.timestamp_seconds(
                    F.lit(1704067200) + (F.col("value") % 3) * 2678400
                ).alias("ts"),
            )
            .writeStream.format("ducklake")
            .option("path", lake)
            .option("table", "pst")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        q.stop()
        assert t.read().count() >= 40
        assert len(t.manifest().files) == 3

    def test_unsupported_partition_source_type_refused(self, spark, lake):
        cat = LakeCatalog(spark, lake)
        t = cat.table("pf")
        src = spark.range(3).select(F.col("id"), (F.col("id") * 1.5).alias("w"))
        t.create(src.schema, pk=[], partition_by="w")
        with pytest.raises(Exception, match="not supported"):
            src.write.format("ducklake").option("path", lake).option(
                "table", "pf"
            ).mode("append").save()
