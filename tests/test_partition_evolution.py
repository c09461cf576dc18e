"""Partition-spec evolution (Iceberg-style): change future layout
without rewriting data; reads, MERGE old-copy discovery, predicate
skipping, and time travel all stay correct across the spec boundary.
"""

import os

import pytest
from pyspark.sql import functions as F

from ducklake_kafka_connect_spark.lake import LakeCatalog, LakeWriter
from ducklake_kafka_connect_spark.lake import writer as wmod


@pytest.fixture()
def cat(spark, tmp_path):
    return LakeCatalog(spark, str(tmp_path / "lake"))


def _batch(spark, lo, hi, month, tag="a"):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"),
        F.to_timestamp(F.lit(f"2024-{month:02d}-15 10:00:00")).alias("ts"),
        F.lit(tag).alias("payload"),
    )


class TestPartitionEvolution:
    def test_new_writes_use_new_layout_old_files_stay(self, spark, cat):
        t = cat.table("t")
        w = LakeWriter(t, pk=["k"], partition_by="month(ts)")
        w.write(_batch(spark, 0, 10, 1))
        old_dirs = set(t.manifest().files)
        t.evolve_partition_spec("year(ts), month(ts)")
        w2 = LakeWriter(t, pk=["k"])
        w2.append(_batch(spark, 100, 110, 2))
        m = t.manifest()
        assert old_dirs <= set(m.files)  # old files untouched, old dirs kept
        new_dirs = set(m.files) - old_dirs
        assert new_dirs and all("_pd_year_ts=" in d for d in new_dirs)
        assert t.read().count() == 20

    def test_merge_finds_old_copies_across_spec_boundary(self, spark, cat, monkeypatch):
        """The partition-evolution correctness trap: an upsert after
        evolution must rewrite keys whose old copies sit in old-spec
        dirs, not silently insert duplicates."""
        t = cat.table("t")
        w = LakeWriter(t, pk=["k"], partition_by="month(ts)")
        w.write(_batch(spark, 0, 50, 1, "old"))
        # several partition dirs: the pruning merge (the one with the
        # partition-membership logic) runs
        for i in range(3):
            w.write(_batch(spark, 1000 + 50 * i, 1050 + 50 * i, 1, "fill"))
        t.evolve_partition_spec("year(ts), month(ts)")
        monkeypatch.setattr(wmod.LakeWriter, "_merge_arrow", lambda self, *a, **k: None)
        w2 = LakeWriter(t, pk=["k"])
        w2.merge(_batch(spark, 25, 75, 2, "new"))
        rows = {r.k: r.payload for r in t.read().select("k", "payload").collect()}
        assert t.read().count() == len(rows), "duplicate keys after evolution"
        assert all(rows[k] == "old" for k in range(0, 25))
        assert all(rows[k] == "new" for k in range(25, 75))

    def test_predicate_skipping_conservative_across_specs(self, spark, cat):
        t = cat.table("t")
        w = LakeWriter(t, pk=["k"], partition_by="month(ts)")
        w.append(_batch(spark, 0, 10, 1))
        t.evolve_partition_spec(None)  # drop partitioning entirely
        w2 = LakeWriter(t, pk=["k"])
        w2.append(_batch(spark, 10, 20, 3))
        # stats-based skipping on the data column still works on BOTH
        # generations of files
        got = t.read(where="k >= 15").filter("k >= 15").count()
        assert got == 5
        kept, pruned = t.prune_files("k < 5")
        assert pruned >= 1  # the new-gen file with k=10..19 is skippable

    def test_time_travel_resolves_pre_evolution_version(self, spark, cat):
        t = cat.table("t")
        w = LakeWriter(t, pk=["k"], partition_by="month(ts)")
        w.append(_batch(spark, 0, 10, 1))
        v0 = t.current_version()
        t.evolve_partition_spec("year(ts)")
        w.append(_batch(spark, 10, 20, 2))
        assert t.read(version=v0).count() == 10
        assert t.manifest(v0).partition_spec == ["month(ts)"]
        assert t.manifest().partition_spec == ["year(ts)"]
        assert t.manifest().props["prior_partition_specs"] == [["month(ts)"]]

    def test_unknown_column_rejected(self, spark, cat):
        t = cat.table("t")
        w = LakeWriter(t, pk=["k"], partition_by="month(ts)")
        w.append(_batch(spark, 0, 5, 1))
        with pytest.raises(ValueError, match="unknown column"):
            t.evolve_partition_spec("year(nope)")
