"""SQL ``MERGE INTO`` (lake/sql_merge.py) — the reference's flagship
statement (``ingestor/DucklakeWriter.java:151-168``: name-mapped
columns, ``_inserted_at`` stamped only on insert) dispatched onto the
engine's writer merge, plus the Delta-flavored extensions (clause
conditions, WHEN MATCHED DELETE, partial SET with target references).
"""

import pytest
from pyspark.sql import functions as F

from ducklake_kafka_connect_spark.lake import LakeCatalog, LakeWriter


@pytest.fixture
def cat(spark, tmp_path):
    return LakeCatalog(spark, str(tmp_path))


def _seed(cat, name="t", n=20):
    cat.sql(f'CREATE TABLE {name} (pk BIGINT, v BIGINT, s STRING, PRIMARY KEY (pk))')
    LakeWriter(cat.table(name), auto_create=False).write(
        cat.spark.range(n).select(
            F.col("id").alias("pk"),
            (F.col("id") * 2).alias("v"),
            F.lit("base").alias("s"),
        )
    )


def _rows(cat, name="t"):
    return {
        r["pk"]: (r["v"], r["s"]) for r in cat.table(name).read().collect()
    }


def _src_view(cat, name, lo, hi, v_mul=10, s="upd"):
    cat.spark.range(lo, hi).select(
        F.col("id").alias("k"),
        (F.col("id") * v_mul).alias("val"),
        F.lit(s).alias("lbl"),
    ).createOrReplaceTempView(name)


class TestReferenceShape:
    def test_name_mapped_upsert_matches_api_merge(self, cat):
        """The reference's exact statement shape (full-row name-mapped
        UPDATE + INSERT) must equal the API merge on the same batch."""
        _seed(cat, "t")
        _seed(cat, "t_api")
        batch = cat.spark.range(10, 30).select(
            F.col("id").alias("k"),
            (F.col("id") * 10).alias("val"),
            F.lit("upd").alias("lbl"),
        )
        batch.createOrReplaceTempView("batch_v")
        cat.sql(
            "MERGE INTO t USING (SELECT * FROM batch_v) AS s ON t.pk = s.k "
            "WHEN MATCHED THEN UPDATE SET v = s.val, s = s.lbl "
            "WHEN NOT MATCHED THEN INSERT (pk, v, s) VALUES (s.k, s.val, s.lbl)"
        )
        LakeWriter(cat.table("t_api"), pk=["pk"], auto_create=False).merge(
            batch.select(
                F.col("k").alias("pk"), F.col("val").alias("v"), F.col("lbl").alias("s")
            )
        )
        assert _rows(cat, "t") == _rows(cat, "t_api")
        got = _rows(cat, "t")
        assert len(got) == 30
        assert got[5] == (10, "base") and got[15] == (150, "upd") and got[25] == (250, "upd")

    def test_update_star_insert_star(self, cat):
        _seed(cat)
        cat.spark.range(15, 25).select(
            F.col("id").alias("pk"),
            (F.col("id") * 100).alias("v"),
            F.lit("star").alias("s"),
        ).createOrReplaceTempView("src_star")
        cat.sql(
            "MERGE INTO t USING src_star AS s2 ON t.pk = s2.pk "
            "WHEN MATCHED THEN UPDATE SET * "
            "WHEN NOT MATCHED THEN INSERT *"
        )
        got = _rows(cat)
        assert len(got) == 25
        assert got[10] == (20, "base") and got[17] == (1700, "star") and got[24] == (2400, "star")

    def test_inserted_at_stamped_only_on_insert(self, cat):
        _seed(cat, n=10)
        before = {
            r["pk"]: r["_inserted_at"]
            for r in cat.table("t").read(include_hidden=True).collect()
        }
        _src_view(cat, "sv_ts", 5, 15)
        cat.sql(
            "MERGE INTO t USING sv_ts AS s2 ON t.pk = s2.k "
            "WHEN MATCHED THEN UPDATE SET v = s2.val, s = s2.lbl "
            "WHEN NOT MATCHED THEN INSERT (pk, v, s) VALUES (s2.k, s2.val, s2.lbl)"
        )
        after = {
            r["pk"]: r["_inserted_at"]
            for r in cat.table("t").read(include_hidden=True).collect()
        }
        for k in range(5, 10):
            assert after[k] == before[k], "matched key must keep its stamp"
        for k in range(10, 15):
            assert after[k] is not None


class TestGeneralPath:
    def test_partial_set_preserves_unlisted_columns(self, cat):
        _seed(cat)
        _src_view(cat, "sv1", 10, 30)
        cat.sql(
            "MERGE INTO t USING sv1 AS s2 ON t.pk = s2.k "
            "WHEN MATCHED THEN UPDATE SET v = s2.val "
            "WHEN NOT MATCHED THEN INSERT (pk, v) VALUES (s2.k, s2.val)"
        )
        got = _rows(cat)
        assert len(got) == 30
        assert got[15] == (150, "base"), "unlisted column keeps target value"
        assert got[25] == (250, None), "unlisted column NULL on insert"
        assert got[5] == (10, "base")

    def test_partial_set_nulls_take_the_arrow_merge(self, cat, monkeypatch):
        """An INSERT that leaves ``s`` NULL against files declaring it NOT
        NULL stays on the Arrow executor (the merge works on nullable
        fields) and equals the pruning executor's result."""
        from ducklake_kafka_connect_spark.lake import writer as wmod
        from ducklake_kafka_connect_spark.metrics import REGISTRY

        stmt = (
            "MERGE INTO {t} USING sv_null AS s2 ON {t}.pk = s2.k "
            "WHEN MATCHED THEN UPDATE SET v = s2.val "
            "WHEN NOT MATCHED THEN INSERT (pk, v) VALUES (s2.k, s2.val)"
        )
        _src_view(cat, "sv_null", 10, 30)

        def counts():
            s = REGISTRY.snapshot()
            return (
                s["operations"].get("merge.arrowWrite", {}).get("count", 0),
                s["counters"].get("merge.arrowFallback", 0),
            )

        _seed(cat, "t_arrow")
        a0, f0 = counts()
        cat.sql(stmt.format(t="t_arrow"))
        a1, f1 = counts()
        assert a1 == a0 + 1 and f1 == f0
        monkeypatch.setattr(
            wmod.LakeWriter, "_merge_arrow", lambda self, *a, **k: None
        )
        _seed(cat, "t_spark")
        cat.sql(stmt.format(t="t_spark"))
        assert _rows(cat, "t_arrow") == _rows(cat, "t_spark")
        assert _rows(cat, "t_arrow")[25] == (250, None)

    def test_set_expr_may_reference_target(self, cat):
        _seed(cat)
        _src_view(cat, "sv2", 15, 25)
        cat.sql(
            "MERGE INTO t AS tgt USING sv2 AS s2 ON tgt.pk = s2.k "
            "WHEN MATCHED THEN UPDATE SET v = tgt.v + s2.val "
            "WHEN NOT MATCHED THEN INSERT (pk, v, s) VALUES (s2.k, s2.val, 'new')"
        )
        got = _rows(cat)
        assert got[16] == (16 * 2 + 160, "base")
        assert got[22] == (220, "new")

    def test_matched_and_condition(self, cat):
        _seed(cat)
        _src_view(cat, "sv3", 0, 20)
        cat.sql(
            "MERGE INTO t USING sv3 AS s2 ON t.pk = s2.k "
            "WHEN MATCHED AND t.pk % 2 = 0 THEN UPDATE SET s = 'even' "
        )
        got = _rows(cat)
        assert len(got) == 20
        assert got[4] == (8, "even") and got[5] == (10, "base")

    def test_not_matched_and_condition_filters_inserts(self, cat):
        _seed(cat)
        _src_view(cat, "sv4", 15, 40)
        cat.sql(
            "MERGE INTO t USING sv4 AS s2 ON t.pk = s2.k "
            "WHEN MATCHED THEN UPDATE SET v = s2.val "
            "WHEN NOT MATCHED AND s2.k < 30 THEN INSERT (pk, v, s) "
            "VALUES (s2.k, s2.val, s2.lbl)"
        )
        got = _rows(cat)
        assert len(got) == 30, "k in [30,40) must not insert"
        assert got[25] == (250, "upd") and 35 not in got

    def test_matched_delete_with_condition(self, cat):
        _seed(cat)
        _src_view(cat, "sv5", 0, 25)
        cat.sql(
            "MERGE INTO t USING sv5 AS s2 ON t.pk = s2.k "
            "WHEN MATCHED AND t.pk >= 15 THEN DELETE "
            "WHEN MATCHED THEN UPDATE SET v = s2.val "
            "WHEN NOT MATCHED AND s2.k < 22 THEN INSERT (pk, v) VALUES (s2.k, s2.val)"
        )
        got = _rows(cat)
        # 0-14 updated, 15-19 deleted, 20-21 inserted, 22-24 filtered
        assert set(got) == set(range(15)) | {20, 21}
        assert got[7] == (70, "base") and got[20] == (200, None)

    def test_first_match_wins_update_shields_delete(self, cat):
        _seed(cat)
        _src_view(cat, "sv6", 0, 20)
        cat.sql(
            "MERGE INTO t USING sv6 AS s2 ON t.pk = s2.k "
            "WHEN MATCHED AND t.pk < 5 THEN UPDATE SET s = 'first' "
            "WHEN MATCHED AND t.pk < 10 THEN DELETE"
        )
        got = _rows(cat)
        # 0-4 took the (earlier) UPDATE, 5-9 the DELETE, 10-19 untouched
        assert set(got) == set(range(5)) | set(range(10, 20))
        assert got[3] == (6, "first") and got[12] == (24, "base")

    def test_using_lake_table_source(self, cat):
        _seed(cat, "t")
        cat.sql("CREATE TABLE staged (k BIGINT, val BIGINT, PRIMARY KEY (k))")
        LakeWriter(cat.table("staged"), auto_create=False).write(
            cat.spark.range(18, 24).select(
                F.col("id").alias("k"), (F.col("id") * 7).alias("val")
            )
        )
        cat.sql(
            "MERGE INTO t USING staged AS s2 ON t.pk = s2.k "
            "WHEN MATCHED THEN UPDATE SET v = s2.val "
            "WHEN NOT MATCHED THEN INSERT (pk, v) VALUES (s2.k, s2.val)"
        )
        got = _rows(cat)
        assert len(got) == 24 and got[19] == (133, "base") and got[22] == (154, None)


class TestHostileIdentifiersAndErrors:
    def test_quoted_identifiers_throughout(self, cat):
        """Hostile names — spaces, keywords, embedded quotes — travel
        double-quoted (the reference's SqlIdentifierUtil discipline)
        through every MERGE position: table, alias, ON, SET, INSERT."""
        cat.sql(
            'CREATE TABLE "merge target" ("the pk" BIGINT, "select" BIGINT, '
            'PRIMARY KEY ("the pk"))'
        )
        LakeWriter(cat.table("merge target"), auto_create=False).write(
            cat.spark.range(10).select(
                F.col("id").alias("the pk"), (F.col("id") * 2).alias("select")
            )
        )
        cat.spark.range(5, 15).select(
            F.col("id").alias("weird k"), (F.col("id") * 10).alias("weird v")
        ).createOrReplaceTempView("hostile_src")
        cat.sql(
            'MERGE INTO "merge target" AS "tgt t" '
            'USING (SELECT * FROM hostile_src) AS "src s" '
            'ON "tgt t"."the pk" = "src s"."weird k" '
            'WHEN MATCHED THEN UPDATE SET "select" = "src s"."weird v" '
            'WHEN NOT MATCHED THEN INSERT ("the pk", "select") '
            'VALUES ("src s"."weird k", "src s"."weird v")'
        )
        got = {
            r["the pk"]: r["select"]
            for r in cat.table("merge target").read().collect()
        }
        assert len(got) == 15
        assert got[3] == 6 and got[7] == 70 and got[12] == 120

    def test_on_must_cover_full_pk(self, cat):
        cat.sql("CREATE TABLE t2 (a BIGINT, b BIGINT, v BIGINT, PRIMARY KEY (a, b))")
        LakeWriter(cat.table("t2"), auto_create=False).write(
            cat.spark.range(5).select(
                F.col("id").alias("a"), F.col("id").alias("b"), F.col("id").alias("v")
            )
        )
        _src_view(cat, "sv7", 0, 5)
        with pytest.raises(ValueError, match="full pk"):
            cat.sql(
                "MERGE INTO t2 USING sv7 AS s2 ON t2.a = s2.k "
                "WHEN MATCHED THEN UPDATE SET v = s2.val"
            )

    def test_on_non_pk_column_rejected(self, cat):
        _seed(cat)
        _src_view(cat, "sv8", 0, 5)
        with pytest.raises(ValueError, match="non-pk"):
            cat.sql(
                "MERGE INTO t USING sv8 AS s2 ON t.v = s2.val "
                "WHEN MATCHED THEN UPDATE SET s = 'x'"
            )

    def test_set_pk_rejected_and_no_pk_table_rejected(self, cat):
        _seed(cat)
        _src_view(cat, "sv9", 0, 5)
        with pytest.raises(ValueError, match="pk column"):
            cat.sql(
                "MERGE INTO t USING sv9 AS s2 ON t.pk = s2.k "
                "WHEN MATCHED THEN UPDATE SET pk = s2.k + 1"
            )
        cat.sql("CREATE TABLE nopk (x BIGINT)")
        with pytest.raises(ValueError, match="no PRIMARY KEY"):
            cat.sql(
                "MERGE INTO nopk USING sv9 AS s2 ON nopk.x = s2.k "
                "WHEN MATCHED THEN UPDATE SET x = s2.k"
            )

    def test_update_star_requires_all_columns(self, cat):
        _seed(cat)
        cat.spark.range(5).select(F.col("id").alias("pk")).createOrReplaceTempView("thin")
        with pytest.raises(ValueError, match="source lacks column"):
            cat.sql(
                "MERGE INTO t USING thin AS s2 ON t.pk = s2.pk "
                "WHEN MATCHED THEN UPDATE SET *"
            )


class TestCompositePk:
    def test_composite_pk_merge(self, cat):
        """Multi-column-pk MERGE: the ON conjunction must cover both key
        columns; the general path runs without the single-pk range prune
        (correct, just unbounded)."""
        cat.sql("CREATE TABLE t3 (a BIGINT, b BIGINT, v BIGINT, PRIMARY KEY (a, b))")
        LakeWriter(cat.table("t3"), auto_create=False).write(
            cat.spark.range(20).select(
                (F.col("id") % 4).alias("a"),
                (F.col("id") / 4).cast("long").alias("b"),
                F.lit(0).cast("long").alias("v"),
            )
        )
        cat.spark.range(10, 30).select(
            (F.col("id") % 4).alias("ka"),
            (F.col("id") / 4).cast("long").alias("kb"),
            F.col("id").alias("val"),
        ).createOrReplaceTempView("comp_src")
        cat.sql(
            "MERGE INTO t3 USING comp_src AS s ON t3.a = s.ka AND t3.b = s.kb "
            "WHEN MATCHED THEN UPDATE SET v = s.val "
            "WHEN NOT MATCHED THEN INSERT (a, b, v) VALUES (s.ka, s.kb, s.val)"
        )
        got = {(r["a"], r["b"]): r["v"] for r in cat.table("t3").read().collect()}
        assert len(got) == 30
        # ids 0-9 untouched (v=0), 10-19 updated, 20-29 inserted
        for i in range(30):
            k = (i % 4, i // 4)
            assert got[k] == (0 if i < 10 else i), (i, k, got[k])


class TestNotMatchedBySource:
    def test_mirror_sync_delete(self, cat):
        """The snapshot-mirror statement: upsert everything in the
        source, DELETE every target row the source no longer carries."""
        _seed(cat)  # pks 0..19
        _src_view(cat, "mb1", 5, 25)
        cat.sql(
            "MERGE INTO t USING mb1 AS s2 ON t.pk = s2.k "
            "WHEN MATCHED THEN UPDATE SET v = s2.val, s = s2.lbl "
            "WHEN NOT MATCHED THEN INSERT (pk, v, s) VALUES (s2.k, s2.val, s2.lbl) "
            "WHEN NOT MATCHED BY SOURCE THEN DELETE"
        )
        got = _rows(cat)
        assert set(got) == set(range(5, 25)), "target mirrors the source"
        assert got[7] == (70, "upd") and got[22] == (220, "upd")

    def test_by_source_conditional_update(self, cat):
        _seed(cat)
        _src_view(cat, "mb2", 15, 20)
        cat.sql(
            "MERGE INTO t USING mb2 AS s2 ON t.pk = s2.k "
            "WHEN MATCHED THEN UPDATE SET s = 'live' "
            "WHEN NOT MATCHED BY SOURCE AND t.pk >= 10 THEN UPDATE SET s = 'stale'"
        )
        got = _rows(cat)
        assert len(got) == 20
        assert got[17] == (34, "live")
        assert got[12] == (24, "stale"), "unmatched in-cond row marked"
        assert got[3] == (6, "base"), "unmatched out-of-cond row untouched"

    def test_by_source_update_then_delete_first_match_wins(self, cat):
        _seed(cat)
        _src_view(cat, "mb3", 18, 20)
        cat.sql(
            "MERGE INTO t USING mb3 AS s2 ON t.pk = s2.k "
            "WHEN NOT MATCHED BY SOURCE AND t.pk < 5 THEN UPDATE SET s = 'kept' "
            "WHEN NOT MATCHED BY SOURCE AND t.pk < 10 THEN DELETE"
        )
        got = _rows(cat)
        # 0-4 took the earlier UPDATE, 5-9 deleted, 10-17 untouched, 18-19 matched (no clause)
        assert set(got) == set(range(5)) | set(range(10, 20))
        assert got[2] == (4, "kept") and got[15] == (30, "base")

    def test_by_source_rejects_source_refs_and_star(self, cat):
        _seed(cat)
        _src_view(cat, "mb4", 0, 5)
        with pytest.raises(ValueError, match="meaningless"):
            cat.sql(
                "MERGE INTO t USING mb4 AS s2 ON t.pk = s2.k "
                "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET *"
            )
        with pytest.raises(ValueError, match="BY SOURCE/BY TARGET"):
            cat.sql(
                "MERGE INTO t USING mb4 AS s2 ON t.pk = s2.k "
                "WHEN MATCHED BY SOURCE THEN DELETE"
            )

    def test_by_target_token_accepted(self, cat):
        _seed(cat, n=5)
        _src_view(cat, "mb5", 3, 8)
        cat.sql(
            "MERGE INTO t USING mb5 AS s2 ON t.pk = s2.k "
            "WHEN NOT MATCHED BY TARGET THEN INSERT (pk, v) VALUES (s2.k, s2.val)"
        )
        got = _rows(cat)
        assert set(got) == set(range(8))
        assert got[6] == (60, None) and got[2] == (4, "base")


class TestInsertPkExpression:
    def test_mismatched_pk_insert_expr_rejected(self, cat):
        """ADVICE r11 #2: an explicit INSERT expression for a pk column
        that differs from the ON key expression must raise, never be
        silently replaced (standard MERGE would honor it; the lake merge
        keys by ON — silence would write different data than asked)."""
        _seed(cat)
        _src_view(cat, "svpk", 0, 5)
        with pytest.raises(ValueError, match="does not match the ON key"):
            cat.sql(
                "MERGE INTO t USING svpk AS s2 ON t.pk = s2.k "
                "WHEN NOT MATCHED THEN INSERT (pk, v) VALUES (s2.k + 1000, s2.val)"
            )

    def test_matching_pk_insert_expr_accepted(self, cat):
        _seed(cat)
        _src_view(cat, "svpk2", 0, 8)
        cat.sql(
            "MERGE INTO t USING svpk2 AS s2 ON t.pk = s2.k "
            "WHEN NOT MATCHED THEN INSERT (pk, v) VALUES (s2.k, s2.val)"
        )
        assert cat.sql("SELECT count(*) AS n FROM t").collect()[0]["n"] >= 8


class TestSchemaEvolution:
    """SQL MERGE star forms evolve the target like every reference write
    does (DucklakeTableManager.java:236-322): new source columns ADD
    COLUMN + null-fill, wider source types widen, JSON-guard violations
    reject BEFORE any commit."""

    def _star_src(self, cat, name, lo, hi, extra=True, v_type="long"):
        cols = [
            F.col("id").alias("pk"),
            (F.col("id") * 10).cast(v_type).alias("v"),
            F.lit("star").alias("s"),
        ]
        if extra:
            cols.append((F.col("id") + 100).alias("score"))
        cat.spark.range(lo, hi).select(*cols).createOrReplaceTempView(name)

    def test_star_merge_adds_new_column_fast_path(self, cat):
        _seed(cat)
        self._star_src(cat, "ev1", 10, 30)
        cat.sql(
            "MERGE INTO t USING ev1 AS s2 ON t.pk = s2.pk "
            "WHEN MATCHED THEN UPDATE SET * "
            "WHEN NOT MATCHED THEN INSERT *"
        )
        got = {r["pk"]: (r["v"], r["s"], r["score"])
               for r in cat.table("t").read().collect()}
        assert got[5] == (10, "base", None), "pre-evolution row null-fills"
        assert got[15] == (150, "star", 115)
        assert got[25] == (250, "star", 125)
        assert "score" in cat.table("t").manifest().schema.fieldNames()

    def test_star_merge_evolution_general_path(self, cat):
        """A clause condition forces the joined general path: evolved
        columns must null-fill on the target side of the join."""
        _seed(cat)
        self._star_src(cat, "ev2", 10, 30)
        cat.sql(
            "MERGE INTO t USING ev2 AS s2 ON t.pk = s2.pk "
            "WHEN MATCHED AND s2.pk % 2 = 0 THEN UPDATE SET * "
            "WHEN NOT MATCHED THEN INSERT *"
        )
        got = {r["pk"]: (r["v"], r["s"], r["score"])
               for r in cat.table("t").read().collect()}
        assert got[15] == (30, "base", None), "unmatched-cond row keeps target"
        assert got[14] == (140, "star", 114)
        assert got[25] == (250, "star", 125)

    def test_key_expr_source_columns_do_not_evolve_in(self, cat):
        """Source key column named differently from the target pk (ON
        t.pk = s.k): star evolution must NOT add `k` as a payload column
        — it's the join key, consumed by the ON clause."""
        _seed(cat)
        cat.spark.range(10, 30).select(
            F.col("id").alias("k"),
            (F.col("id") * 10).alias("v"),
            F.lit("star").alias("s"),
            (F.col("id") + 100).alias("score"),
        ).createOrReplaceTempView("ev3")
        cat.sql(
            "MERGE INTO t USING ev3 AS s2 ON t.pk = s2.k "
            "WHEN MATCHED THEN UPDATE SET * "
            "WHEN NOT MATCHED THEN INSERT *"
        )
        fields = cat.table("t").manifest().schema.fieldNames()
        assert "k" not in fields, "join-key source column is not payload"
        assert "score" in fields
        got = {r["pk"]: (r["v"], r["score"])
               for r in cat.table("t").read().collect()}
        assert got[25] == (250, 125) and got[5] == (10, None)

    def test_widening_through_star_merge(self, cat):
        cat.sql("CREATE TABLE tw (pk BIGINT, v INT, PRIMARY KEY (pk))")
        LakeWriter(cat.table("tw"), auto_create=False).write(
            cat.spark.range(5).select(
                F.col("id").alias("pk"), F.col("id").cast("int").alias("v")
            )
        )
        cat.spark.range(3, 8).select(
            F.col("id").alias("pk"), (F.col("id") * 10).cast("long").alias("v")
        ).createOrReplaceTempView("evw")
        cat.sql(
            "MERGE INTO tw USING evw AS s2 ON tw.pk = s2.pk "
            "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
        )
        m = cat.table("tw").manifest()
        assert m.schema["v"].dataType.simpleString() == "bigint"
        got = {r["pk"]: r["v"] for r in cat.table("tw").read().collect()}
        assert got == {0: 0, 1: 1, 2: 2, 3: 30, 4: 40, 5: 50, 6: 60, 7: 70}

    def test_json_guard_violation_rejects_without_corrupting(self, cat):
        """Source carries `s` as a STRUCT where the target stores STRING:
        JSON-guard incompatible — the statement must raise and the table
        must be byte-identical (no partial commit)."""
        _seed(cat)
        v_before = cat.table("t").current_version()
        rows_before = _rows(cat)
        cat.spark.range(10, 15).select(
            F.col("id").alias("pk"),
            (F.col("id") * 10).alias("v"),
            F.struct(F.lit("x").alias("a")).alias("s"),
        ).createOrReplaceTempView("evj")
        with pytest.raises(Exception, match="[Ii]ncompatible|JSON|json"):
            cat.sql(
                "MERGE INTO t USING evj AS s2 ON t.pk = s2.pk "
                "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
            )
        assert cat.table("t").current_version() == v_before
        assert _rows(cat) == rows_before
