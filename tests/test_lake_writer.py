"""Lake table + writer golden behavior — mirrors DucklakeWriterMergeTest /
DucklakeTableManagerTest / DucklakeTableManagerPartitionTest (SURVEY §5)."""

import datetime as dt
import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ducklake_kafka_connect_spark.lake import LakeCatalog, LakeWriter
from ducklake_kafka_connect_spark.schema.reconcile import ReconcileError


@pytest.fixture()
def catalog(spark, tmp_path):
    return LakeCatalog(spark, str(tmp_path / "lake"))


def users_df(spark, rows):
    return spark.createDataFrame(
        rows, "id int, name string, created_at timestamp"
    )


TS = dt.datetime(2023, 10, 3, 14, 30)


class TestAppendAndCreate:
    def test_auto_create_and_read_back(self, spark, catalog):
        w = LakeWriter(catalog.table("users"), pk=["id"])
        w.write(users_df(spark, [(1, "a", TS), (2, "b", TS)]))
        tbl = catalog.table("users").read()
        assert set(tbl.columns) == {"id", "name", "created_at", "_inserted_at"}
        rows = {r["id"]: r for r in tbl.collect()}
        assert rows[1]["name"] == "a"
        assert rows[1]["_inserted_at"] is not None

    def test_append_accumulates(self, spark, catalog):
        w = LakeWriter(catalog.table("t"), pk=[])
        w.write(users_df(spark, [(1, "a", TS)]))
        w.write(users_df(spark, [(1, "a2", TS)]))
        assert catalog.table("t").read().count() == 2  # no pk → plain INSERT, dup kept

    def test_merge_routing_new_table_is_insert(self, spark, catalog):
        # D3: pk configured but table did NOT pre-exist → plain insert
        w = LakeWriter(catalog.table("u2"), pk=["id"])
        w.write(users_df(spark, [(1, "a", TS), (1, "b", TS)]))
        assert catalog.table("u2").read().count() == 2


class TestMerge:
    def test_insert_update_mixed(self, spark, catalog):
        # golden path of DucklakeWriterMergeTest.java:119-148
        w = LakeWriter(catalog.table("users"), pk=["id"])
        w.write(users_df(spark, [(1, "a", TS), (2, "b", TS)]))   # create+insert
        w.write(users_df(spark, [(2, "b2", TS), (3, "c", TS)]))  # update 2, insert 3
        rows = {r["id"]: r for r in catalog.table("users").read().collect()}
        assert len(rows) == 3
        assert rows[1]["name"] == "a"
        assert rows[2]["name"] == "b2"
        assert rows[3]["name"] == "c"

    def test_inserted_at_stable_on_update(self, spark, catalog):
        # DucklakeWriterMergeTest.java:224-346: _inserted_at set on insert,
        # NOT refreshed on merge-update.
        w = LakeWriter(catalog.table("users"), pk=["id"])
        w.write(users_df(spark, [(1, "a", TS)]))
        first = catalog.table("users").read().collect()[0]["_inserted_at"]
        import time

        time.sleep(1.1)
        w.write(users_df(spark, [(1, "a2", TS)]))
        rows = catalog.table("users").read().collect()
        assert len(rows) == 1
        assert rows[0]["name"] == "a2"
        assert rows[0]["_inserted_at"] == first

    def test_in_batch_duplicate_pk_last_wins(self, spark, catalog):
        w = LakeWriter(catalog.table("users"), pk=["id"])
        w.write(users_df(spark, [(1, "seed", TS)]))
        w.write(users_df(spark, [(1, "first", TS), (1, "second", TS)]))
        rows = catalog.table("users").read().collect()
        assert len(rows) == 1
        assert rows[0]["name"] == "second"

    def test_count_preserved_under_conflicts(self, spark, catalog):
        # conflict-rate invariant (DucklakeWriterIntegrationTest.java:262-354)
        w = LakeWriter(catalog.table("users"), pk=["id"])
        base = [(i, f"base_{i}", TS) for i in range(1, 1001)]
        w.write(users_df(spark, base))
        batch = [(i, f"upd_{i}", TS) for i in range(1, 101)] + [
            (i, f"new_{i}", TS) for i in range(1001, 1901)
        ]
        w.write(users_df(spark, batch))
        tbl = catalog.table("users").read()
        assert tbl.count() == 1900
        upd = tbl.filter(F.col("id") == 50).collect()[0]
        assert upd["name"] == "upd_50"


class TestPartitioned:
    def events_df(self, spark, rows):
        return spark.createDataFrame(rows, "event_id int, ts timestamp, kind string")

    def test_partition_layout_and_merge_prunes(self, spark, catalog):
        t = catalog.table("events")
        w = LakeWriter(t, pk=["event_id"], partition_by="year(ts), month(ts)")
        jan = dt.datetime(2023, 1, 5)
        feb = dt.datetime(2023, 2, 5)
        w.write(self.events_df(spark, [(1, jan, "a"), (2, feb, "b")]))
        # hive dirs exist for the derived exprs
        m = t.manifest()
        assert any("_pd_year_ts=2023" in k and "_pd_month_ts=1" in k for k in m.files)
        files_before = dict(m.files)

        w.write(self.events_df(spark, [(2, feb, "b2")]))  # touches only feb
        m2 = t.manifest()
        jan_key = next(k for k in files_before if "_pd_month_ts=1" in k)
        assert m2.files[jan_key] == files_before[jan_key]  # jan untouched
        rows = {r["event_id"]: r for r in t.read().collect()}
        assert rows[2]["kind"] == "b2" and len(rows) == 2

    def test_partition_move_deletes_old_copy(self, spark, catalog):
        t = catalog.table("events2")
        w = LakeWriter(t, pk=["event_id"], partition_by="year(ts)")
        w.write(self.events_df(spark, [(1, dt.datetime(2022, 6, 1), "a")]))
        w.write(self.events_df(spark, [(1, dt.datetime(2023, 6, 1), "moved")]))
        rows = t.read().collect()
        assert len(rows) == 1
        assert rows[0]["kind"] == "moved"
        assert rows[0]["ts"].year == 2023

    def test_raw_column_partition(self, spark, catalog):
        t = catalog.table("events3")
        w = LakeWriter(t, pk=["event_id"], partition_by="kind")
        w.write(self.events_df(spark, [(1, TS, "x"), (2, TS, "y")]))
        assert any("_pd_kind=x" in k for k in t.manifest().files)
        assert {r["kind"] for r in t.read().collect()} == {"x", "y"}


class TestEvolution:
    def test_add_column_and_widen(self, spark, catalog):
        w = LakeWriter(catalog.table("drift"), pk=["id"])
        a = spark.createDataFrame([(1, "v1", 1.5)], "id int, value string, score float")
        w.write(a)
        b = spark.createDataFrame(
            [(2**40, "v2", 2.5, "eu")], "id long, value string, score double, region string"
        )
        w.write(b)
        tbl = catalog.table("drift").read()
        assert tbl.schema["id"].dataType == T.LongType()
        assert tbl.schema["score"].dataType == T.DoubleType()
        rows = {r["id"]: r for r in tbl.collect()}
        assert rows[1]["region"] is None  # old row null-filled
        assert rows[2**40]["region"] == "eu"
        assert rows[1]["score"] == pytest.approx(1.5)

    def test_incompatible_evolution_raises(self, spark, catalog):
        w = LakeWriter(catalog.table("drift2"), pk=["id"])
        w.write(spark.createDataFrame([(1, "x")], "id int, value string"))
        with pytest.raises(ReconcileError):
            w.write(spark.createDataFrame([(2, 7)], "id int, value int"))


class TestComplexAsJson:
    def test_struct_array_map_stored_as_json(self, spark, catalog):
        schema = T.StructType(
            [
                T.StructField("id", T.IntegerType()),
                T.StructField("tags", T.ArrayType(T.StringType())),
                T.StructField(
                    "address",
                    T.StructType(
                        [
                            T.StructField("street", T.StringType()),
                            T.StructField("zip", T.IntegerType()),
                        ]
                    ),
                ),
            ]
        )
        df = spark.createDataFrame(
            [(1, ["a", "b"], Row(street="s", zip=123))], schema
        )
        w = LakeWriter(catalog.table("cj"), pk=["id"])
        w.write(df)
        row = catalog.table("cj").read().collect()[0]
        assert row["tags"] == '["a","b"]'
        assert row["address"] == '{"street":"s","zip":123}'
        # logical schema remembers the complex type (JSON guard input)
        m = catalog.table("cj").manifest()
        assert isinstance(m.schema["tags"].dataType, T.ArrayType)

    def test_json_roundtrip_merge(self, spark, catalog):
        # DucklakeWriterMergeTest.java:151-195 — nested fields survive merge
        schema = T.StructType(
            [
                T.StructField("id", T.IntegerType()),
                T.StructField(
                    "payload",
                    T.StructType([T.StructField("k", T.StringType())]),
                ),
            ]
        )
        w = LakeWriter(catalog.table("cj2"), pk=["id"])
        w.write(spark.createDataFrame([(1, Row(k="v1"))], schema))
        w.write(spark.createDataFrame([(1, Row(k="v2"))], schema))
        rows = catalog.table("cj2").read().collect()
        assert len(rows) == 1
        assert rows[0]["payload"] == '{"k":"v2"}'


class TestTimeTravel:
    def test_versioned_reads(self, spark, catalog):
        w = LakeWriter(catalog.table("tt"), pk=["id"])
        w.write(users_df(spark, [(1, "a", TS)]))
        w.write(users_df(spark, [(1, "b", TS)]))
        t = catalog.table("tt")
        assert t.read(version=1).collect()[0]["name"] == "a"
        assert t.read(version=2).collect()[0]["name"] == "b"


class TestDeleteWhere:
    """Predicate DELETE: file-pruned rewrite of survivors only."""

    def test_delete_semantics_and_pruning(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from ducklake_kafka_connect_spark.lake import LakeCatalog, LakeWriter

        cat = LakeCatalog(spark, str(tmp_path / "lake"))
        w = LakeWriter(cat.table("d"), pk=["id"], auto_compact=False)
        # two disjoint-range files: only one admits the predicate
        for lo in (0, 10_000):
            w.append(
                spark.range(lo, lo + 1000).select(
                    F.col("id"), (F.col("id") % 7).alias("v")
                )
            )
        t = cat.table("d")
        before = set(t.manifest().all_files())
        w.delete_where("id < 500")
        after = t.manifest()
        assert t.read().count() == 1500
        assert t.read().filter("id < 500").count() == 0
        # the high-range file was untouched (same physical file carried)
        untouched = before & set(after.all_files())
        assert untouched, "non-matching file should carry over unchanged"

    def test_delete_null_predicate_rows_survive(self, spark, tmp_path):
        from ducklake_kafka_connect_spark.lake import LakeCatalog, LakeWriter

        cat = LakeCatalog(spark, str(tmp_path / "lake"))
        w = LakeWriter(cat.table("dn"), pk=["id"], auto_compact=False)
        w.append(
            spark.createDataFrame(
                [(1, 5), (2, None), (3, 50)], "id long, v int"
            )
        )
        w.delete_where("v < 10")
        got = {r["id"] for r in cat.table("dn").read().collect()}
        assert got == {2, 3}  # NULL predicate row survives (SQL DELETE)

    def test_delete_no_match_is_noop_commit(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from ducklake_kafka_connect_spark.lake import LakeCatalog, LakeWriter

        cat = LakeCatalog(spark, str(tmp_path / "lake"))
        w = LakeWriter(cat.table("dz"), pk=["id"], auto_compact=False)
        w.append(spark.range(100).select(F.col("id"), F.lit("x").alias("s")))
        v0 = cat.table("dz").current_version()
        w.delete_where("id > 99999")
        assert cat.table("dz").current_version() == v0  # pruned to nothing
        assert cat.table("dz").read().count() == 100

    def test_delete_on_partitioned_table(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from ducklake_kafka_connect_spark.lake import LakeCatalog, LakeWriter

        cat = LakeCatalog(spark, str(tmp_path / "lake"))
        w = LakeWriter(
            cat.table("dp"), pk=["id"], partition_by="month(created_at)",
            auto_compact=False,
        )
        w.append(
            spark.range(2000).select(
                F.col("id"),
                F.timestamp_seconds(
                    1704067200 + (F.col("id") * 3000) % 5_184_000
                ).alias("created_at"),
            )
        )
        t = cat.table("dp")
        w.delete_where("id BETWEEN 100 AND 199")
        assert t.read().count() == 1900
        assert t.read().filter("id BETWEEN 100 AND 199").count() == 0
        # partition layout preserved
        assert len(t.manifest().files) >= 2


class TestManifestChain:
    """Compacted manifest chain (SCALE.md / VERDICT r4 #7): commits
    serialize delta segments, a full base lands every COMPACT_EVERY
    commits, and every committed version stays time-travelable."""

    def test_delta_segments_and_periodic_base(self, spark, catalog):
        from ducklake_kafka_connect_spark.lake.table import COMPACT_EVERY

        # auto_compact off: each insert-only merge adds a file, and an
        # auto-compaction commit would break the one-commit-per-write
        # version numbering this test pins
        w = LakeWriter(catalog.table("chain"), pk=["id"], auto_compact=False)
        n = COMPACT_EVERY + 3
        for i in range(n):
            w.write(users_df(spark, [(i, f"v{i}", TS)]))
        t = catalog.table("chain")
        ext = "avro" if t.manifest_format == "binary" else "json"
        meta = sorted(os.listdir(t.meta_dir))
        fulls = [f for f in meta if f.endswith("." + ext) and ".delta." not in f and f.startswith("v")]
        deltas = [f for f in meta if f.endswith(".delta." + ext)]
        # v0 (create) and vCOMPACT_EVERY are full; the rest are deltas
        assert f"v0.{ext}" in fulls and f"v{COMPACT_EVERY}.{ext}" in fulls
        assert len(deltas) == n - 1  # every non-base commit is a delta
        # every committed version resolves and reads correctly
        for v in range(1, n + 1):
            m = t.manifest(v)
            assert m.version == v
            rows = {r["id"] for r in t.read(version=v).collect()}
            assert rows == set(range(v))

    def test_chain_survives_merge_and_evolution(self, spark, catalog):
        w = LakeWriter(catalog.table("chain_ev"), pk=["id"])
        w.write(users_df(spark, [(1, "a", TS), (2, "b", TS)]))
        w.write(users_df(spark, [(1, "a2", TS)]))  # merge update via delta
        evolved = spark.createDataFrame(
            [(3, "c", TS, "x")], "id int, name string, created_at timestamp, extra string"
        )
        w2 = LakeWriter(catalog.table("chain_ev"), pk=["id"])
        w2.write(evolved)  # ADD COLUMN travels through the delta
        t = catalog.table("chain_ev")
        rows = {r["id"]: r for r in t.read().collect()}
        assert rows[1]["name"] == "a2"
        assert rows[3]["extra"] == "x"
        assert "extra" in t.manifest().schema.fieldNames()
        # pre-evolution version resolves without the new column
        assert "extra" not in t.manifest(2).schema.fieldNames()

    def test_vacuum_keeps_resolution_chain(self, spark, catalog):
        from ducklake_kafka_connect_spark.lake.maintenance import vacuum

        w = LakeWriter(catalog.table("chain_vac"), pk=["id"])
        for i in range(5):
            w.write(users_df(spark, [(i, f"n{i}", TS)]))
        t = catalog.table("chain_vac")
        latest = t.current_version()
        vacuum(t, keep_versions=2)
        # both retained versions still resolve through their chains
        assert {r["id"] for r in t.read(version=latest).collect()} == set(range(5))
        assert {r["id"] for r in t.read(version=latest - 1).collect()} == set(range(4))


class TestCatalogSql:
    def test_sql_joins_lake_tables(self, spark, catalog):
        LakeWriter(catalog.table("users"), pk=["id"]).write(
            users_df(spark, [(1, "ann", TS), (2, "bob", TS)])
        )
        orders = spark.createDataFrame(
            [(10, 1, 5.0), (11, 1, 7.0), (12, 2, 3.0)],
            "order_id int, user_id int, amount double",
        )
        LakeWriter(catalog.table("orders"), pk=["order_id"]).write(orders)
        out = catalog.sql(
            """
            SELECT u.name, CAST(sum(o.amount) AS DOUBLE) AS total
            FROM orders o JOIN users u ON o.user_id = u.id
            GROUP BY u.name ORDER BY u.name
            """
        ).collect()
        assert [(r.name, r.total) for r in out] == [("ann", 12.0), ("bob", 3.0)]

    def test_sql_version_pinning_time_travel(self, spark, catalog):
        w = LakeWriter(catalog.table("users"), pk=["id"])
        w.write(users_df(spark, [(1, "ann", TS)]))
        v1 = catalog.table("users").current_version()
        w.write(users_df(spark, [(2, "bob", TS)]))
        assert catalog.sql("SELECT count(*) AS n FROM users").collect()[0].n == 2
        pinned = catalog.sql(
            "SELECT count(*) AS n FROM users", versions={"users": v1}
        )
        assert pinned.collect()[0].n == 1


class TestDropColumn:
    """Metadata-only DROP COLUMN: no file rewrites, reads stop
    projecting, time travel still sees the column."""

    def test_drop_and_time_travel(self, spark, catalog):
        w = LakeWriter(catalog.table("dc"), pk=["id"])
        w.write(spark.createDataFrame(
            [(1, "a", 10), (2, "b", 20)], "id int, name string, extra int"))
        t = catalog.table("dc")
        files_before = t.manifest().all_files()
        v = t.drop_column("extra")
        t2 = catalog.table("dc")
        assert t2.manifest().all_files() == files_before  # no rewrite
        assert "extra" not in t2.read().columns
        assert "extra" in t2.read(version=v - 1).columns  # time travel
        rows = {r["id"]: r["name"] for r in t2.read().collect()}
        assert rows == {1: "a", 2: "b"}
        # merging after the drop works against the narrowed schema
        w2 = LakeWriter(catalog.table("dc"), pk=["id"])
        w2.write(spark.createDataFrame([(2, "B")], "id int, name string"))
        got = {r["id"]: r["name"] for r in catalog.table("dc").read().collect()}
        assert got == {1: "a", 2: "B"}

    def test_drop_guards(self, spark, catalog):
        import pytest

        w = LakeWriter(catalog.table("dcg"), pk=["id"], partition_by="bucket")
        w.write(spark.createDataFrame([(1, 0, "x")], "id int, bucket int, name string"))
        t = catalog.table("dcg")
        with pytest.raises(ValueError, match="PK"):
            t.drop_column("id")
        with pytest.raises(ValueError, match="partition"):
            t.drop_column("bucket")
        with pytest.raises(ValueError, match="no column"):
            t.drop_column("ghost")


class TestConformIdentifiers:
    """_conform builds its projection as selectExpr SQL strings (one
    Py4J round trip on the merge hot path) — hostile identifiers must
    survive the quoting: spaces, dots, embedded backticks, unicode,
    reserved words."""

    def test_hostile_names_roundtrip(self, spark):
        from pyspark.sql import types as T

        from ducklake_kafka_connect_spark.lake.writer import _conform

        names = ["plain", "with space", "dot.ted", "back`tick", "uni-ç", "select"]
        df = spark.createDataFrame(
            [tuple(range(1, len(names) + 1))],
            T.StructType([T.StructField(n, T.IntegerType()) for n in names]),
        )
        logical = T.StructType([T.StructField(n, T.LongType()) for n in names])
        out = _conform(df, logical)
        assert out.columns == names
        assert [f.dataType.simpleString() for f in out.schema.fields] == [
            "bigint"
        ] * len(names)
        assert list(out.collect()[0]) == list(range(1, len(names) + 1))

    def test_complex_and_missing_with_spaces(self, spark):
        from pyspark.sql import types as T

        from ducklake_kafka_connect_spark.lake.writer import _conform

        logical = T.StructType(
            [
                T.StructField("with space", T.LongType()),
                T.StructField(
                    "nested j", T.StructType([T.StructField("a", T.LongType())])
                ),
                T.StructField("missing col", T.StringType()),
            ]
        )
        df = spark.createDataFrame(
            [(7, (9,))],
            T.StructType(
                [
                    T.StructField("with space", T.IntegerType()),
                    T.StructField(
                        "nested j",
                        T.StructType([T.StructField("a", T.LongType())]),
                    ),
                ]
            ),
        )
        r = _conform(df, logical).collect()[0]
        assert r["with space"] == 7
        assert r["nested j"] == '{"a":9}'  # complex → JSON (B9)
        assert r["missing col"] is None  # missing → typed NULL (B1)


class TestCheckConstraints:
    """Delta-style CHECK constraints: violating batches reject before
    any file is written; a NULL/UNKNOWN predicate passes (standard SQL
    CHECK semantics — only rows whose predicate is FALSE violate)."""

    def test_violating_batch_rejected_whole(self, spark, catalog):
        from ducklake_kafka_connect_spark.lake import ConstraintViolation

        w = LakeWriter(
            catalog.table("c"), pk=["id"],
            check_constraints={"value_nonneg": "v >= 0", "name_set": "name IS NOT NULL"},
        )
        w.write(spark.createDataFrame([(1, 5.0, "a")], "id int, v double, name string"))
        with pytest.raises(ConstraintViolation, match="value_nonneg"):
            w.write(spark.createDataFrame(
                [(2, -1.0, "b"), (3, 2.0, None)], "id int, v double, name string"))
        # nothing from the bad batch landed
        assert catalog.table("c").read().count() == 1

    def test_null_predicate_passes(self, spark, catalog):
        # v > 0 with v NULL evaluates UNKNOWN → passes (SQL/Delta CHECK:
        # only FALSE violates); an explicit IS NOT NULL still rejects.
        from ducklake_kafka_connect_spark.lake import ConstraintViolation

        w = LakeWriter(
            catalog.table("c2"), pk=["id"], check_constraints={"pos": "v > 0"}
        )
        w.write(spark.createDataFrame([(1, None)], "id int, v double"))
        assert catalog.table("c2").read().count() == 1
        w2 = LakeWriter(
            catalog.table("c2b"), pk=["id"],
            check_constraints={"v_set": "v IS NOT NULL"},
        )
        with pytest.raises(ConstraintViolation, match="v_set"):
            w2.write(spark.createDataFrame([(1, None)], "id int, v double"))

    def test_update_where_enforces_constraints(self, spark, catalog):
        # SET expressions cannot commit rows append()/merge() would
        # reject (ADVICE r6: update_where skipped _enforce_constraints).
        from ducklake_kafka_connect_spark.lake import ConstraintViolation

        w = LakeWriter(
            catalog.table("c2u"), pk=["id"], check_constraints={"pos": "v > 0"}
        )
        w.write(spark.createDataFrame([(1, 1.0), (2, 2.0)], "id int, v double"))
        with pytest.raises(ConstraintViolation, match="pos"):
            w.update_where("id = 2", {"v": "-5.0"})
        got = {r["id"]: r["v"] for r in catalog.table("c2u").read().collect()}
        assert got == {1: 1.0, 2: 2.0}

    def test_clean_batches_unaffected(self, spark, catalog):
        w = LakeWriter(
            catalog.table("c3"), pk=["id"], check_constraints={"pos": "v > 0"}
        )
        w.write(spark.createDataFrame([(1, 1.0)], "id int, v double"))
        w.write(spark.createDataFrame([(1, 2.0), (2, 3.0)], "id int, v double"))
        got = {r["id"]: r["v"] for r in catalog.table("c3").read().collect()}
        assert got == {1: 2.0, 2: 3.0}


def test_write_compression_property(spark, tmp_path):
    """r13: TBLPROPERTIES write.compression selects the parquet codec on
    both the Spark write path and the driver-Arrow fast paths."""
    import os

    import pyarrow.parquet as pq

    from ducklake_kafka_connect_spark.lake import LakeCatalog, LakeWriter

    cat = LakeCatalog(spark, str(tmp_path / "lake"))
    cat.sql("CREATE TABLE z (id BIGINT, v STRING, PRIMARY KEY (id))")
    cat.sql("ALTER TABLE z SET TBLPROPERTIES ('write.compression' = 'zstd')")
    t = cat.table("z")
    w = LakeWriter(t, pk=["id"])
    # small write → driver-Arrow fast path
    w.write(spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string"))
    # merge (arrow merge path)
    w.write(spark.createDataFrame([(1, "A"), (3, "c")], "id long, v string"))
    # large-ish append forcing the Spark writer path
    w.append(spark.range(4, 5000).selectExpr("id", "cast(id as string) AS v"))
    codecs = set()
    for rel in t.manifest().all_files():
        md = pq.ParquetFile(os.path.join(t.dir, rel)).metadata
        codecs.add(md.row_group(0).column(0).compression)
    assert codecs == {"ZSTD"}, codecs
    got = {r["id"] for r in t.read().collect()}
    assert {1, 2, 3, 4, 4999} <= got


class TestSingleManifestResolve:
    """r14 (VERDICT #2): the hot write path resolves the manifest chain
    exactly ONCE per write — constraint enforcement reuses the planning
    manifest, the under-lock conflict check is a cheap version read (not
    a chain resolve), and prune_files reuses the in-hand manifest. At
    100 TB manifests are O(files) big; doubling metadata reads per
    10k-row CDC batch is real money."""

    @staticmethod
    def _count(fn):
        from ducklake_kafka_connect_spark.metrics import REGISTRY

        with REGISTRY._lock:
            REGISTRY.counters.pop("manifest.resolves", None)
        fn()
        return REGISTRY.counters.get("manifest.resolves", 0)

    def test_one_resolve_per_write(self, spark, catalog):
        w = LakeWriter(catalog.table("one"), pk=["id"])
        w.write(spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string"))
        # Arrow merge executor
        n = self._count(
            lambda: w.write(spark.createDataFrame([(3, "c")], "id long, v string"))
        )
        assert n == 1, f"merge write did {n} manifest resolves, want 1"
        # append path
        wa = LakeWriter(catalog.table("one_a"))
        wa.append(spark.createDataFrame([(1, "a")], "id long, v string"))
        n = self._count(
            lambda: wa.append(spark.createDataFrame([(2, "b")], "id long, v string"))
        )
        assert n == 1, f"append did {n} manifest resolves, want 1"
        # overwrite path
        n = self._count(
            lambda: wa.overwrite(spark.createDataFrame([(9, "z")], "id long, v string"))
        )
        assert n == 1, f"overwrite did {n} manifest resolves, want 1"
        # MOR merge path
        wm = LakeWriter(catalog.table("one_m"), pk=["id"], merge_mode="merge-on-read")
        wm.write(spark.createDataFrame([(i, "x") for i in range(100)], "id long, v string"))
        n = self._count(
            lambda: wm.write(spark.createDataFrame([(1, "z")], "id long, v string"))
        )
        assert n == 1, f"MOR merge did {n} manifest resolves, want 1"
        # predicate DML
        n = self._count(lambda: w.update_where("id = 1", {"v": "'u'"}))
        assert n == 1, f"update_where did {n} manifest resolves, want 1"
        n = self._count(lambda: w.delete_where("id = 2"))
        assert n == 1, f"delete_where did {n} manifest resolves, want 1"

    def test_stored_constraints_still_enforced_one_resolve(self, spark, catalog):
        from ducklake_kafka_connect_spark.lake import ConstraintViolation

        t = catalog.table("one_c")
        w = LakeWriter(t, pk=["id"])
        w.write(spark.createDataFrame([(1, 1.0)], "id int, v double"))
        catalog.sql("ALTER TABLE one_c ADD CONSTRAINT pos CHECK (v > 0)")
        w2 = LakeWriter(t, pk=["id"])  # fresh writer, no inline constraints
        with pytest.raises(ConstraintViolation, match="pos"):
            w2.write(spark.createDataFrame([(2, -1.0)], "id int, v double"))
        n = self._count(
            lambda: w2.write(spark.createDataFrame([(2, 2.0)], "id int, v double"))
        )
        assert n == 1, f"constrained write did {n} manifest resolves, want 1"
