"""Driver-side Arrow merge executor (lake/writer.py ``_merge_arrow``):
must be semantics-identical to the Spark pruning merge, and must hand
the batch to it — named and counted — whenever an eligibility check
trips."""

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from ducklake_kafka_connect_spark.lake import LakeCatalog, LakeWriter
from ducklake_kafka_connect_spark.lake import writer as wmod


@pytest.fixture()
def lake(tmp_path):
    return str(tmp_path / "lake")


def _rows(df, *cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def _base(spark, n=200):
    return spark.range(n).select(
        F.col("id"),
        F.concat(F.lit("v"), F.col("id")).alias("name"),
        F.timestamp_seconds(1704067200 + F.col("id") % 2_592_000).alias("created_at"),
    )


def _spark_only(monkeypatch):
    monkeypatch.setattr(
        wmod.LakeWriter, "_merge_arrow", lambda self, *a, **k: None
    )


def test_arrow_merge_matches_spark_merge(spark, tmp_path, monkeypatch):
    """Same base + same batch through both paths → identical tables."""
    batch_expr = lambda s: s.range(100).select(  # noqa: E731
        (F.col("id") * 3).alias("id"),
        F.lit("upd").alias("name"),
        F.timestamp_seconds(1704067200 + F.col("id")).alias("created_at"),
    )
    out = {}
    for mode in ("arrow", "spark"):
        cat = LakeCatalog(spark, str(tmp_path / mode))
        w = LakeWriter(cat.table("t"), pk=["id"], partition_by="month(created_at)")
        if mode == "spark":
            _spark_only(monkeypatch)
        w.write(_base(spark))
        w.write(batch_expr(spark))
        out[mode] = _rows(cat.table("t").read(), "id", "name", "created_at")
        monkeypatch.undo()
    assert out["arrow"] == out["spark"]


def test_arrow_merge_range_splits_large_output(spark, lake, monkeypatch):
    """Past 2×MERGE_TARGET_FILE_ROWS the Arrow merge writes pk-sorted
    slices: multiple files, DISJOINT pk ranges in the manifest stats
    (the next merge's overlap prune depends on it), identical content."""
    monkeypatch.setattr(wmod, "MERGE_TARGET_FILE_ROWS", 100)
    # the bytes floor would veto splitting a KB-scale fixture; this test
    # pins the range-split mechanics, so drop the floor too
    monkeypatch.setattr(wmod, "MERGE_TARGET_FILE_BYTES", 1)
    cat = LakeCatalog(spark, lake)
    # auto_compact off: with the bytes floor dropped the split emits 16
    # small files, which the post-commit auto-compact would fold into one
    w = LakeWriter(cat.table("t_rs"), pk=["id"], auto_compact=False)
    w.write(spark.range(450).select(F.col("id"), F.lit("a").alias("name")))
    w.write(
        spark.range(100, 200).select(F.col("id"), F.lit("b").alias("name"))
    )  # Arrow merge → 550-row rewrite? no: 450 rows, 100 overlap → 450
    m = cat.table("t_rs").manifest()
    files = m.all_files()
    assert len(files) >= 4, files  # 450 rows / 100-target → ≥4 slices
    ranges = sorted(
        tuple(m.file_stats[f]["id"][:2]) for f in files if m.file_stats.get(f)
    )
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 < lo2, f"overlapping pk ranges: {ranges}"
    got = {r["id"]: r["name"] for r in cat.table("t_rs").read().collect()}
    assert len(got) == 450
    assert got[150] == "b" and got[50] == "a" and got[300] == "a"


def test_arrow_merge_range_split_on_renamed_table(spark, lake, monkeypatch):
    """Range-split sort keys are translated through the rename map at
    the physical write boundary: a table with a renamed (non-pk) column
    crossing the 2×target threshold must stay on the Arrow merge path
    and still produce disjoint pk ranges (pk renames are refused at the
    DDL layer, so the translation is currently an identity for pk —
    this pins the invariant for both)."""
    from ducklake_kafka_connect_spark.metrics import REGISTRY

    monkeypatch.setattr(wmod, "MERGE_TARGET_FILE_ROWS", 100)
    # the bytes floor would veto splitting a KB-scale fixture; this test
    # pins the range-split mechanics, so drop the floor too
    monkeypatch.setattr(wmod, "MERGE_TARGET_FILE_BYTES", 1)
    cat = LakeCatalog(spark, lake)
    t = cat.table("t_rrs")
    w = LakeWriter(t, pk=["id"])
    w.write(spark.range(450).select(F.col("id"), F.lit("a").alias("name")))
    t.rename_column("name", "label")
    ev = REGISTRY.ops.get("merge.arrowWrite")
    n0 = ev.count if ev else 0
    w2 = LakeWriter(cat.table("t_rrs"), pk=["id"], auto_compact=False)
    w2.write(
        spark.range(100, 200).select(F.col("id"), F.lit("b").alias("label"))
    )
    ev = REGISTRY.ops.get("merge.arrowWrite")
    assert ev is not None and ev.count > n0, (
        "renamed table past the range-split threshold bounced off Arrow"
    )
    m = cat.table("t_rrs").manifest()
    tip_files = [f for f in m.all_files() if m.file_stats.get(f)]
    ranges = sorted(tuple(m.file_stats[f]["id"][:2]) for f in tip_files)
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 < lo2, f"overlapping pk ranges: {ranges}"
    got = {r["id"]: r["label"] for r in cat.table("t_rrs").read().collect()}
    assert len(got) == 450 and got[150] == "b" and got[50] == "a"


def test_arrow_merge_used_and_inserted_at_stable(spark, lake):
    cat = LakeCatalog(spark, lake)
    w = LakeWriter(cat.table("t"), pk=["id"])
    w.write(spark.range(50).select(F.col("id"), F.lit("a").alias("name")))
    before = {
        r["id"]: r["_inserted_at"]
        for r in cat.table("t").read(include_hidden=True).collect()
    }
    from ducklake_kafka_connect_spark.metrics import REGISTRY

    evals = REGISTRY.ops.get("merge.arrowWrite")
    n0 = evals.count if evals else 0
    w.write(spark.range(25).select(F.col("id"), F.lit("b").alias("name")))
    evals = REGISTRY.ops.get("merge.arrowWrite")
    assert evals is not None and evals.count > n0, "arrow path did not engage"
    after = {
        r["id"]: (r["name"], r["_inserted_at"])
        for r in cat.table("t").read(include_hidden=True).collect()
    }
    assert len(after) == 50
    for i in range(25):
        assert after[i][0] == "b"
        assert after[i][1] == before[i], "matched key must keep its stamp"
    for i in range(25, 50):
        assert after[i][0] == "a"


def test_arrow_merge_order_col_last_write_wins(spark, lake):
    cat = LakeCatalog(spark, lake)
    w = LakeWriter(cat.table("t"), pk=["id"])
    w.write(spark.range(10).select(F.col("id"), F.lit(0).alias("seq"),
                                   F.lit("base").alias("name")))
    # in-batch duplicate keys: higher seq must win regardless of row order
    batch = spark.createDataFrame(
        [(1, 5, "low"), (1, 9, "high"), (2, 9, "high"), (2, 5, "low")],
        "id long, seq int, name string",
    )
    w.merge(batch, order_col="seq")
    got = {r["id"]: r["name"] for r in cat.table("t").read().collect()}
    assert got[1] == "high" and got[2] == "high"
    assert got[3] == "base"


def test_arrow_merge_many_group_commit(spark, lake):
    cat = LakeCatalog(spark, lake)
    w = LakeWriter(cat.table("t"), pk=["id"])
    w.write(spark.range(20).select(F.col("id"), F.lit("base").alias("name")))
    batches = [
        spark.range(20).filter(F.col("id") % m == 0).select(
            F.col("id"), F.lit(tag).alias("name"))
        for m, tag in ((2, "b1"), (3, "b2"), (5, "b3"))
    ]
    v0 = cat.table("t").current_version()
    w.merge_many(batches)
    assert cat.table("t").current_version() == v0 + 1
    got = {r["id"]: r["name"] for r in cat.table("t").read().collect()}
    for i in range(20):
        exp = "b3" if i % 5 == 0 else "b2" if i % 3 == 0 else "b1" if i % 2 == 0 else "base"
        assert got[i] == exp, f"id={i}"


def test_arrow_merge_creates_new_partition_dir(spark, lake):
    """A batch whose rows land outside the table's existing partition
    dir stays on the Arrow executor, which writes the new dir itself."""
    from ducklake_kafka_connect_spark.metrics import REGISTRY

    def arrow_merges():
        ops = REGISTRY.snapshot()["operations"]
        return ops.get("merge.arrowWrite", {}).get("count", 0)

    cat = LakeCatalog(spark, lake)
    w = LakeWriter(cat.table("t"), pk=["id"], partition_by="month(created_at)")
    w.write(spark.range(50).select(
        F.col("id"), F.lit("a").alias("name"),
        F.timestamp_seconds(F.lit(1704067200)).alias("created_at")))  # Jan
    batch = spark.range(10).select(
        F.col("id"), F.lit("feb").alias("name"),
        F.timestamp_seconds(F.lit(1706832000)).alias("created_at"))  # Feb
    n0 = arrow_merges()
    w.write(batch)
    assert arrow_merges() == n0 + 1
    m = cat.table("t").manifest()
    assert len(m.files) == 2, f"expected two partition dirs, got {list(m.files)}"
    got = {r["id"]: r["name"] for r in cat.table("t").read().collect()}
    assert got[5] == "feb" and got[49] == "a"


def test_arrow_written_file_prunes_and_rereads(spark, lake):
    """Manifest stats harvested from the Arrow-written file must drive
    file pruning exactly like Spark-written ones."""
    cat = LakeCatalog(spark, lake)
    w = LakeWriter(cat.table("t"), pk=["id"])
    w.write(spark.range(100).select(F.col("id"), F.lit("x").alias("name")))
    w.write(spark.range(10).select(F.col("id"), F.lit("y").alias("name")))
    m = cat.table("t").manifest()
    f = m.all_files()
    assert len(f) == 1
    stats = m.file_stats[f[0]]
    assert stats["id"][:2] == [0, 99]
    assert stats["__rows"] == 100
    kept, pruned = cat.table("t").prune_files("id > 1000")
    assert kept == [] and pruned == 1
    assert cat.table("t").read(where="id < 5").count() == 5


def test_arrow_write_dictionary_encodes_low_cardinality_only(spark, lake):
    """Driver-side files dictionary-encode a column only where it pays,
    like parquet-mr's fallback: a unique long column is PLAIN, a
    low-cardinality string column keeps RLE_DICTIONARY."""
    import pyarrow.parquet as pq

    from ducklake_kafka_connect_spark.metrics import REGISTRY

    def arrow_appends():
        ops = REGISTRY.snapshot()["operations"]
        return ops.get("append.arrowWrite", {}).get("count", 0)

    cat = LakeCatalog(spark, lake)
    t = cat.table("t")
    n0 = arrow_appends()
    LakeWriter(t, pk=["id"]).append(spark.range(1000).select(
        F.col("id"), (F.col("id") % 3).cast("string").alias("kind")))
    assert arrow_appends() == n0 + 1
    (f,) = t.manifest().all_files()
    md = pq.ParquetFile(os.path.join(t.dir, f)).metadata
    enc = {
        md.schema.column(i).name: md.row_group(0).column(i).encodings
        for i in range(md.num_columns)
    }
    assert "PLAIN" in enc["id"] and "RLE_DICTIONARY" not in enc["id"]
    assert "RLE_DICTIONARY" in enc["kind"]


def test_harvest_skips_are_counted(tmp_path):
    """A file whose footer cannot be read, or whose Bloom sidecar cannot
    be written, is counted on the driver instead of passing silently."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ducklake_kafka_connect_spark.lake.table import _count_harvest, _harvest_one
    from ducklake_kafka_connect_spark.metrics import REGISTRY

    def counts():
        c = REGISTRY.snapshot()["counters"]
        return c.get("write.harvestSkip", 0), c.get("write.bloomSkip", 0)

    bad = tmp_path / "bad.parquet"
    bad.write_bytes(b"not parquet")
    good = tmp_path / "good.parquet"
    pq.write_table(pa.table({"id": [1, 2, 3]}), good)
    (tmp_path / "good.parquet.bloom.tmp").mkdir()  # the sidecar cannot land
    h0, b0 = counts()
    got = _count_harvest(
        (str(p), *_harvest_one(str(p), ["id"], "id")) for p in (bad, good)
    )
    assert list(got) == [str(good)] and got[str(good)]["__rows"] == 3
    assert counts() == (h0 + 1, b0 + 2)


# ---------------------------------------------------------------------------
# Arrow small-APPEND shape (lake/writer.py ``LakeWriter._append_locked``)
# ---------------------------------------------------------------------------


def _append_spark_only(monkeypatch):
    # every batch is over the driver-side cap → Spark-written files
    monkeypatch.setattr(wmod.LakeWriter, "ARROW_APPEND_MAX_BYTES", -1)


def test_arrow_append_matches_spark_append(spark, tmp_path, monkeypatch):
    """Same batch through both append paths → identical table contents,
    partition dirs, and manifest stats columns."""
    out = {}
    for mode in ("arrow", "spark"):
        cat = LakeCatalog(spark, str(tmp_path / mode))
        w = LakeWriter(cat.table("t"), pk=["id"], partition_by="month(created_at)")
        if mode == "spark":
            _append_spark_only(monkeypatch)
        w.append(_base(spark, 500))
        m = cat.table("t").manifest()
        out[mode] = (
            _rows(cat.table("t").read(), "id", "name", "created_at"),
            sorted(m.files.keys()),
            set().union(*(s.keys() for s in m.file_stats.values())),
        )
        monkeypatch.undo()
    assert out["arrow"][0] == out["spark"][0]
    assert out["arrow"][1] == out["spark"][1]
    # Arrow-path stats must cover at least the Spark path's (µs
    # timestamps additionally get footer min/max that INT96 lacks)
    assert out["spark"][2] <= out["arrow"][2]


def test_arrow_append_multi_partition_dirs(spark, lake):
    """An Arrow append spanning two months writes two partition dirs."""
    from ducklake_kafka_connect_spark.metrics import REGISTRY

    cat = LakeCatalog(spark, lake)
    w = LakeWriter(cat.table("t"), pk=["id"], partition_by="month(created_at)")
    before = REGISTRY.snapshot()["operations"].get("append.arrowWrite", {}).get("count", 0)
    batch = spark.range(100).select(
        F.col("id"),
        F.lit("x").alias("name"),
        F.timestamp_seconds(
            F.when(F.col("id") < 50, 1704067200).otherwise(1706832000)
        ).alias("created_at"),
    )
    w.append(batch)
    after = REGISTRY.snapshot()["operations"].get("append.arrowWrite", {}).get("count", 0)
    assert after == before + 1, "small append should take the Arrow path"
    m = cat.table("t").manifest()
    assert len(m.files) == 2
    assert cat.table("t").read().count() == 100


def test_arrow_append_post_commit_failure_no_duplicate(spark, lake, monkeypatch):
    """Once the Arrow append's manifest commit lands, a post-commit
    failure (auto-compact) must PROPAGATE, not fall through to the Spark
    append path — that would write the same batch twice (ADVICE r6)."""
    cat = LakeCatalog(spark, lake)
    w = LakeWriter(cat.table("t_pc"), pk=["id"])
    w.append(spark.range(10).select(F.col("id"), F.lit("a").alias("name")))
    base = cat.table("t_pc").read().count()

    def boom(self, *a, **k):
        raise RuntimeError("post-commit failure")

    monkeypatch.setattr(wmod.LakeWriter, "_maybe_auto_compact", boom)
    with pytest.raises(RuntimeError, match="post-commit"):
        w.append(spark.range(10, 20).select(F.col("id"), F.lit("b").alias("name")))
    monkeypatch.undo()
    # the batch landed exactly once despite the raised error
    assert cat.table("t_pc").read().count() == base + 10
    assert cat.table("t_pc").read().filter(F.col("name") == "b").count() == 10


def test_arrow_append_then_arrow_merge(spark, lake):
    """Files written by the Arrow append must stay eligible for the
    Arrow merge path (timestamp unit/tz differences must not trip it)."""
    from ducklake_kafka_connect_spark.metrics import REGISTRY

    cat = LakeCatalog(spark, lake)
    w = LakeWriter(cat.table("t"), pk=["id"], partition_by="month(created_at)")
    w.append(_base(spark, 300))
    stamps = {
        r["id"]: r["_inserted_at"]
        for r in cat.table("t").read().select("id", "_inserted_at").collect()
    }
    fb_before = REGISTRY.snapshot()["counters"].get("merge.arrowFallback", 0)
    batch = spark.range(50).select(
        (F.col("id") * 2).alias("id"),
        F.lit("upd").alias("name"),
        F.timestamp_seconds(1704067200 + F.col("id")).alias("created_at"),
    )
    w.write(batch)
    fb_after = REGISTRY.snapshot()["counters"].get("merge.arrowFallback", 0)
    assert fb_after == fb_before, "arrow merge fell back after arrow append"
    got = {r["id"]: r for r in cat.table("t").read().collect()}
    assert got[0]["name"] == "upd" and got[1]["name"] == "v1"
    # matched keys keep their original _inserted_at stamp
    assert got[2]["_inserted_at"] == stamps[2]


def test_arrow_append_writes_exotic_partition_tokens(spark, lake, monkeypatch):
    """A string partition value needing Hive escaping takes the Arrow
    path and lands in the dir Spark's partitionBy names, reading back
    like the Spark path's write."""
    from ducklake_kafka_connect_spark.metrics import REGISTRY

    cat = LakeCatalog(spark, lake)

    def append(name):
        t = cat.table(name)
        LakeWriter(t, pk=["id"], partition_by="kind").append(spark.range(1, 3).select(
            F.col("id"), F.when(F.col("id") == 1, "a b:c").otherwise("plain").alias("kind")
        ))
        return sorted(t.manifest().files), {r["id"]: r["kind"] for r in t.read().collect()}

    before = (
        REGISTRY.snapshot()["operations"].get("append.arrowWrite", {}).get("count", 0)
    )
    got = append("t")
    after = (
        REGISTRY.snapshot()["operations"].get("append.arrowWrite", {}).get("count", 0)
    )
    assert after == before + 1, "an escaped token takes the Arrow path"
    monkeypatch.setattr(wmod.LakeWriter, "ARROW_APPEND_MAX_BYTES", -1)
    assert got == append("spark") == (
        ["_pd_kind=a b%3Ac", "_pd_kind=plain"], {1: "a b:c", 2: "plain"}
    )


def test_arrow_append_schema_evolution(spark, lake):
    """An append that ADDS a column must evolve the table through the
    Arrow path: old rows read back null-filled, manifest schema grows."""
    from ducklake_kafka_connect_spark.metrics import REGISTRY

    cat = LakeCatalog(spark, lake)
    LakeWriter(cat.table("t"), pk=["id"]).append(
        spark.range(10).select(F.col("id"), F.lit("a").alias("name"))
    )
    before = (
        REGISTRY.snapshot()["operations"].get("append.arrowWrite", {}).get("count", 0)
    )
    LakeWriter(cat.table("t"), pk=["id"]).append(
        spark.range(10, 15).select(
            F.col("id"), F.lit("b").alias("name"), F.lit(3.5).alias("score")
        )
    )
    after = (
        REGISTRY.snapshot()["operations"].get("append.arrowWrite", {}).get("count", 0)
    )
    assert after == before + 1
    t = cat.table("t")
    rows = {r["id"]: (r["name"], r["score"]) for r in t.read().collect()}
    assert len(rows) == 15
    assert rows[0] == ("a", None) and rows[12] == ("b", 3.5)
    assert "score" in [f.name for f in t.manifest().schema.fields]


def test_arrow_paths_stay_live_after_rename_column(spark, lake):
    """Metadata-only RENAME COLUMN must not retire the Arrow fast paths:
    the write boundary renames logical→physical zero-copy
    (pyarrow rename_columns) instead of bailing to the Spark plan.
    Pinned via the path-choice metrics (merge.arrowWrite /
    append.arrowWrite counts advance; fallback counters do not)."""
    from ducklake_kafka_connect_spark.metrics import REGISTRY

    cat = LakeCatalog(spark, lake)
    t = cat.table("t")
    w = LakeWriter(t, pk=["id"])
    w.write(_base(spark, 100))
    t.rename_column("name", "label")
    assert t.manifest().column_renames == {"label": "name"}

    def counts():
        s = REGISTRY.snapshot()
        return (
            s["operations"].get("merge.arrowWrite", {}).get("count", 0),
            s["operations"].get("append.arrowWrite", {}).get("count", 0),
            s["counters"].get("merge.arrowFallback", 0),
            s["counters"].get("append.arrowFallback", 0),
        )

    m0, a0, mf0, af0 = counts()
    # small-batch MERGE on the renamed table → Arrow merge path
    batch = spark.range(50, 150).select(
        F.col("id"),
        F.concat(F.lit("r"), F.col("id")).alias("label"),
        F.timestamp_seconds(1704067200 + F.col("id")).alias("created_at"),
    )
    w.write(batch)
    m1, a1, mf1, af1 = counts()
    assert m1 == m0 + 1, "renamed table must still take the Arrow merge path"
    assert mf1 == mf0 and af1 == af0
    # small append on a renamed APPEND table → Arrow append path
    t2 = cat.table("t2")
    w2 = LakeWriter(t2, pk=[])
    w2.append(_base(spark, 50))
    t2.rename_column("name", "label")
    w2.append(
        spark.range(200, 250).select(
            F.col("id"),
            F.concat(F.lit("n"), F.col("id")).alias("label"),
            F.timestamp_seconds(1704067200 + F.col("id")).alias("created_at"),
        )
    )
    m2, a2, mf2, af2 = counts()
    assert a2 == a1 + 2 and af2 == af0

    # correctness: logical names everywhere, physical names in files
    rows = {r["id"]: r["label"] for r in t.read().collect()}
    assert len(rows) == 150
    assert rows[0] == "v0" and rows[60] == "r60" and rows[149] == "r149"
    assert "label" in t.read().columns and "name" not in t.read().columns
    assert t2.read().count() == 100
    import pyarrow.parquet as pq

    for f in t.manifest().all_files():
        names = pq.read_schema(os.path.join(t.dir, f)).names
        assert "name" in names and "label" not in names, f
    # manifest stats stay keyed by LOGICAL name
    m = t.manifest()
    stat_keys = {c for s in m.file_stats.values() for c in s if not c.startswith("__")}
    assert "label" in stat_keys and "name" not in stat_keys
    # a second merge reuses the version-keyed Arrow target cache
    w.write(
        spark.range(10, 20).select(
            F.col("id"),
            F.lit("cache").alias("label"),
            F.timestamp_seconds(F.lit(1704067200)).alias("created_at"),
        )
    )
    rows = {r["id"]: r["label"] for r in t.read().collect()}
    assert rows[15] == "cache" and rows[60] == "r60"


def test_commit_refusal_is_not_rerun_on_spark(spark, tmp_path):
    """A merge into a fenced replication mirror is refused by the commit
    itself. The Arrow merge must raise that refusal as-is — not count a
    fallback and re-run the whole merge on the Spark executor (whose
    write_data_files job would only hit the same fence)."""
    from ducklake_kafka_connect_spark.lake.replicate import replicate
    from ducklake_kafka_connect_spark.metrics import REGISTRY

    cat = LakeCatalog(spark, str(tmp_path / "primary"))
    t = cat.table("f")
    LakeWriter(t, pk=["id"]).write(
        spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string")
    )
    replicate(t, str(tmp_path / "mirror"))
    mt = LakeCatalog(spark, str(tmp_path / "mirror")).table("f")

    def counts():
        s = REGISTRY.snapshot()
        return (
            s["counters"].get("merge.arrowFallback", 0),
            s["operations"].get("write.dataFiles", {}).get("count", 0),
            s["operations"].get("merge.arrowWrite", {}).get("count", 0),
        )

    fb0, wd0, aw0 = counts()
    with pytest.raises(ValueError, match="replication mirror"):
        LakeWriter(mt, pk=["id"]).write(
            spark.createDataFrame([(9, "z")], "id long, s string")
        )
    fb1, wd1, aw1 = counts()
    assert aw1 == aw0 + 1, "the Arrow executor should have run the merge"
    assert fb1 == fb0, "a commit refusal is not an Arrow fallback"
    assert wd1 == wd0, "the refused merge was re-run on Spark"
    assert mt.read().count() == 2


def _append_fallbacks(reason):
    from ducklake_kafka_connect_spark.metrics import REGISTRY

    c = REGISTRY.snapshot()["counters"]
    return c.get("append.arrowFallback", 0), c.get(f"append.arrowFallback.{reason}", 0)


def test_arrow_append_error_is_a_named_fallback(spark, lake, monkeypatch):
    """A failure before the Arrow append commits is counted as
    ``append.arrowFallback.error`` and the Spark write lands the batch."""
    cat = LakeCatalog(spark, lake)
    w = LakeWriter(cat.table("t"), pk=["id"])
    w.append(_base(spark, 10))

    def boom(self, *a, **k):
        raise RuntimeError("parquet write failed")

    monkeypatch.setattr(wmod.StagedFiles, "write", boom)
    total0, named0 = _append_fallbacks("error")
    w.append(spark.range(10, 15).select(F.col("id"), F.lit("b").alias("name")))
    assert _append_fallbacks("error") == (total0 + 1, named0 + 1)
    assert cat.table("t").read().count() == 15


def test_estimate_over_cap_declines_before_any_collect(spark, lake, monkeypatch):
    """A batch whose known size estimate, with the table's bytes, is
    over ARROW_MERGE_MAX_BYTES is declined before any job: no toArrow
    runs, ``merge.arrowFallback.size_cap`` counts it, and its rows land
    through the pruning executor."""
    from ducklake_kafka_connect_spark.metrics import REGISTRY

    t = LakeCatalog(spark, lake).table("t")
    w = LakeWriter(t, pk=["id"])
    w.write(_base(spark, 10))
    batch = spark.range(5, 105).select(
        F.col("id"),
        F.lit("upd").alias("name"),
        F.timestamp_seconds(1704067200 + F.col("id")).alias("created_at"),
    )
    # the optimizer's estimate (a range is sized without a job)
    est = int(batch._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    assert est < 1 << 60
    m = t.manifest()
    table_bytes = sum(int(m.file_stats[f]["__bytes"]) for f in m.all_files())
    # the table alone still fits: only table + batch is over the cap
    monkeypatch.setattr(wmod, "ARROW_MERGE_MAX_BYTES", table_bytes + est - 1)
    collects = []
    frame_cls = type(batch)  # the concrete class defines toArrow
    to_arrow = frame_cls.toArrow
    monkeypatch.setattr(
        frame_cls, "toArrow", lambda df: collects.append(1) or to_arrow(df)
    )
    counters = dict(REGISTRY.counters)
    plans = getattr(REGISTRY.ops.get("merge.planAgg"), "count", 0)
    w.write(batch)
    monkeypatch.undo()

    def delta(name):
        return REGISTRY.counters.get(name, 0) - counters.get(name, 0)

    assert collects == []
    assert delta("merge.arrowFallback.size_cap") == 1
    assert REGISTRY.ops["merge.planAgg"].count == plans + 1
    got = dict(_rows(t.read(), "id", "name"))
    assert got == {**{i: f"v{i}" for i in range(5)}, **{i: "upd" for i in range(5, 105)}}
