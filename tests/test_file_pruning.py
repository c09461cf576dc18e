"""File-level MERGE pruning: footer PK min/max stats in the manifest
must keep non-overlapping files out of the rewrite set (their relpaths
survive the commit unchanged), while results stay correct."""

import pytest
from pyspark.sql import functions as F

from ducklake_kafka_connect_spark.lake import LakeCatalog, LakeWriter
from ducklake_kafka_connect_spark.lake import writer as wmod


@pytest.fixture(autouse=True)
def _pruning_executor(monkeypatch):
    # every merge here runs on the pruning executor: the Arrow merge is barred
    monkeypatch.setattr(wmod.LakeWriter, "_merge_arrow", lambda self, *a, **k: None)


def _setup(spark, tmp_path, name):
    cat = LakeCatalog(spark, str(tmp_path))
    t = cat.table(name)
    w = LakeWriter(t, pk=["id"], auto_compact=False)  # keep files accreted
    # 4 appends with disjoint key ranges → ≥4 files with tight stats
    for base in (0, 1000, 2000, 3000):
        w.append(
            spark.range(base, base + 100).select(
                F.col("id"), F.concat(F.lit("v"), F.col("id")).alias("v")
            )
        )
    return t, w


def test_stats_recorded(spark, tmp_path):
    t, _ = _setup(spark, tmp_path, "fp1")
    m = t.manifest()
    assert m.file_stats, "footer stats should be harvested on write"
    for f, s in m.file_stats.items():
        lo, hi = s["id"][:2]
        assert lo <= hi
        # non-PK columns are stat-ed too (data skipping)
        assert "v" in s


def test_merge_rewrites_only_overlapping_files(spark, tmp_path):
    t, w = _setup(spark, tmp_path, "fp2")
    before = set(t.manifest().all_files())
    stats = t.manifest().file_stats
    # update keys 0..49 → only files overlapping [0, 49] may be rewritten
    w.write(
        spark.range(0, 50).select(F.col("id"), F.lit("updated").alias("v"))
    )
    after = set(t.manifest().all_files())
    surviving = before & after
    expected_untouched = {
        f for f in before if f in stats and stats[f]["id"][0] > 49
    }
    assert expected_untouched, "setup should produce non-overlapping files"
    assert expected_untouched <= surviving, (
        "files whose key range cannot match the batch must not be rewritten"
    )
    # correctness unchanged
    rows = {r["id"]: r["v"] for r in t.read().collect()}
    assert rows[0] == "updated" and rows[49] == "updated"
    assert rows[50] == "v50" and rows[3099] == "v3099"
    assert len(rows) == 400


def test_compact_range_layout_tightens_pruning(spark, tmp_path):
    from ducklake_kafka_connect_spark.lake.maintenance import compact

    cat = LakeCatalog(spark, str(tmp_path))
    t = cat.table("fpc")
    w = LakeWriter(t, pk=["id"], auto_compact=False)  # keep files accreted
    # interleaved appends: every file spans nearly the whole key space
    for off in range(10):
        w.append(
            spark.range(0, 4000, 10).select(
                (F.col("id") + off).alias("id"),
                F.concat(F.lit("v"), F.col("id") + off).alias("v"),
            )
        )
    assert t.read().count() == 4000
    # optimized writes emit ~1 file per append → 10 interleaved files
    assert sum(len(v) for v in t.manifest().files.values()) >= 10
    compact(t, max_files_per_partition=1, target_files=4)
    m = t.manifest()
    stats = m.file_stats
    files = m.all_files()
    assert len(files) >= 3
    assert all(f in stats for f in files)
    # ranges must be pairwise disjoint after the range layout
    ranges = sorted(stats[f]["id"][:2] for f in files)
    for (_, hi), (lo, _) in zip(ranges, ranges[1:]):
        assert hi < lo  # strictly disjoint (pk is unique)
    # a narrow-range merge now rewrites only the one covering file
    before = set(files)
    w.write(spark.range(0, 5).select(F.col("id"), F.lit("u").alias("v")))
    after = set(t.manifest().all_files())
    rewritten = before - after
    assert len(rewritten) == 1 if len(before) > 1 else True
    rows = {r["id"]: r["v"] for r in t.read().collect()}
    assert rows[0] == "u" and rows[4] == "u"
    assert t.read().count() == 4000  # updates, not inserts (ids 0-4 exist)


def test_merge_insert_only_batch_rewrites_nothing(spark, tmp_path):
    t, w = _setup(spark, tmp_path, "fp3")
    before = set(t.manifest().all_files())
    # keys 9000+ overlap no file → pure insert, zero rewrites
    w.write(spark.range(9000, 9010).select(F.col("id"), F.lit("new").alias("v")))
    after = set(t.manifest().all_files())
    assert before <= after, "no pre-existing file should be rewritten"
    assert t.read().count() == 410


def test_merge_bloom_probe_shrinks_rewrite_set(spark, tmp_path):
    """Interleaved appends: every file's PK range overlaps every batch,
    so range pruning alone rewrites everything — the Bloom probe must
    cut the rewrite set to the files actually holding the keys."""
    cat = LakeCatalog(spark, str(tmp_path))
    t = cat.table("fpb")
    w = LakeWriter(t, pk=["id"], auto_compact=False)  # keep files accreted
    # 4 files, each spanning [off, 4000+off] with stride 4 — all overlap
    for off in range(4):
        w.append(
            spark.range(0, 4000, 4).select(
                (F.col("id") + off).alias("id"),
                F.concat(F.lit("v"), F.col("id") + off).alias("v"),
            )
        )
    before = set(t.manifest().all_files())
    assert len(before) >= 4
    # keys 0,4,8,...,96 all live in the off=0 file only
    w.write(
        spark.range(0, 100, 4).select(F.col("id"), F.lit("u").alias("v"))
    )
    after = set(t.manifest().all_files())
    rewritten = before - after
    # Bloom is probabilistic: a false positive may add a file, but the
    # probe must cut the 4-file overlap set down to ~the true container
    assert len(rewritten) <= 2, f"bloom probe should isolate ~one file, rewrote {len(rewritten)}"
    rows = {r["id"]: r["v"] for r in t.read().collect()}
    assert rows[0] == "u" and rows[96] == "u" and rows[1] == "v1"
    assert len(rows) == 4000
