"""Copy-on-write MERGE routing as one decision table.

Every copy-on-write merge runs on one of two executors: the driver-side
Arrow merge (``LakeWriter._merge_arrow``) or the Spark pruning merge
(``LakeWriter._merge_once``); merge-on-read tables commit delta +
tombstone files instead. Each row below names an input class and the
executor it must take (read off ``metrics.REGISTRY``), and its result
must equal the pruning executor's on the same inputs — including which
matched keys keep their original ``_inserted_at``."""

import pytest
from pyspark.sql import functions as F

from ducklake_kafka_connect_spark.lake import LakeCatalog, LakeWriter
from ducklake_kafka_connect_spark.lake import writer as wmod
from ducklake_kafka_connect_spark.metrics import REGISTRY

JAN, FEB = 1704067200, 1706832000  # 2024-01-01, 2024-02-02 (UTC)


def _base(spark, ts=JAN):
    return spark.range(40).select(
        F.col("id"),
        F.concat(F.lit("base"), F.col("id")).alias("name"),
        F.lit(0).alias("seq"),
        F.timestamp_seconds(F.lit(ts) + F.col("id")).alias("created_at"),
    )


def _batch(spark, lo, hi, tag, ts=JAN):
    return spark.range(lo, hi).select(
        F.col("id"),
        F.lit(tag).alias("name"),
        (F.col("id") % 3).cast("int").alias("seq"),
        F.timestamp_seconds(F.lit(ts) + F.col("id")).alias("created_at"),
    )


def _small(spark, w, t):
    w.merge(_batch(spark, 20, 60, "upd"))


def _tombstones(spark, w, t):
    # delete 10..14, upsert 15..24; key 30 is deleted then re-inserted
    # and key 31 inserted then deleted within the batch (order by seq)
    b = _batch(spark, 10, 25, "upd").withColumn("del", F.col("id") < 15)
    flip = spark.createDataFrame(
        [(30, "gone", 1, True), (30, "back", 2, False),
         (31, "new", 1, False), (31, "gone", 2, True)],
        "id long, name string, seq int, del boolean",
    ).withColumn("created_at", F.timestamp_seconds(F.lit(JAN)))
    w.merge(b.unionByName(flip), order_col="seq", tombstone_col="del")


def _merge_many(spark, w, t):
    w.merge_many(
        [_batch(spark, 0, 20, "b1"), _batch(spark, 10, 30, "b2"),
         _batch(spark, 25, 50, "b3")],
        order_col="seq",
    )


def _schema_change(spark, w, t):
    w.merge(_batch(spark, 30, 50, "wide").withColumn("score", F.lit(1.5)))


def _new_partition_value(spark, w, t):
    w.merge(_batch(spark, 30, 50, "feb", ts=FEB))


def _multi_dir(spark, w, t):
    w.merge(_batch(spark, 35, 45, "feb", ts=FEB))  # second dir (pruning)
    w.merge(_batch(spark, 0, 10, "upd"))  # the routed merge


# (case, merge step, partitioned, writer merge_mode, executor)
CASES = [
    ("small_unpartitioned", _small, False, None, "arrow"),
    ("small_with_tombstones", _tombstones, False, None, "arrow"),
    ("merge_many_ephemeral_order", _merge_many, False, None, "arrow"),
    ("schema_evolving_batch", _schema_change, False, None, "pruning"),
    ("new_partition_value", _new_partition_value, True, None, "pruning"),
    ("multi_dir_table", _multi_dir, True, None, "pruning"),
    ("merge_on_read", _small, False, "merge-on-read", "mor"),
]


def _snapshot():
    s = REGISTRY.snapshot()
    ops, ctr = s["operations"], s["counters"]
    return {
        "arrow": ops.get("merge.arrowWrite", {}).get("count", 0),
        "pruning": ops.get("merge.planAgg", {}).get("count", 0),
        "mor": ctr.get("merge.morCommits", 0),
    }


def _executor(before, after):
    # merge-on-read also runs the planning aggregate: check it first
    for name in ("mor", "arrow", "pruning"):
        if after[name] > before[name]:
            return name
    return None


def _run(spark, root, step, partitioned, mode):
    cat = LakeCatalog(spark, root)
    t = cat.table("t")
    w = LakeWriter(
        t, pk=["id"], merge_mode=mode,
        partition_by="month(created_at)" if partitioned else None,
    )
    w.append(_base(spark))
    stamps = {
        r["id"]: r["_inserted_at"]
        for r in t.read().select("id", "_inserted_at").collect()
    }
    before = _snapshot()
    step(spark, w, t)
    ran = _executor(before, _snapshot())
    rows = sorted(
        (r["id"], r["name"], r["seq"], r["created_at"],
         r["_inserted_at"] == stamps[r["id"]] if r["id"] in stamps else None)
        for r in t.read().collect()
    )
    extra = sorted(c for c in t.read().columns if c not in (
        "id", "name", "seq", "created_at", "_inserted_at"))
    return ran, rows, extra


@pytest.mark.parametrize(
    "case,step,partitioned,mode,executor", CASES, ids=[c[0] for c in CASES]
)
def test_merge_routing_decision_table(
    spark, tmp_path, monkeypatch, case, step, partitioned, mode, executor
):
    ran, rows, extra = _run(spark, str(tmp_path / "routed"), step, partitioned, mode)
    # the reference: copy-on-write on the pruning executor
    monkeypatch.setattr(wmod.LakeWriter, "_merge_arrow", lambda self, *a, **k: None)
    ref_ran, ref_rows, ref_extra = _run(
        spark, str(tmp_path / "pruning"), step, partitioned, None
    )
    assert ran == executor, f"{case}: ran on {ran}, expected {executor}"
    assert ref_ran == "pruning"
    assert rows == ref_rows and extra == ref_extra


def test_small_upsert_from_non_local_frame_is_one_spark_job(spark, tmp_path):
    """A small-table upsert whose batch is a distributed plan (not a
    folded LocalRelation) costs exactly the one batch-evaluation job."""
    cat = LakeCatalog(spark, str(tmp_path))
    w = LakeWriter(cat.table("t"), pk=["id"])
    w.append(_base(spark))
    w.merge(_batch(spark, 30, 50, "warm"))
    sc = spark.sparkContext
    sc.setJobGroup("merge_routing_job_count", "one small upsert")
    try:
        w.merge(_batch(spark, 20, 60, "upd"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = sc.statusTracker().getJobIdsForGroup("merge_routing_job_count")
    assert len(jobs) == 1, jobs
    got = {r["id"]: r["name"] for r in cat.table("t").read().collect()}
    assert len(got) == 60 and got[25] == "upd" and got[5] == "base5"
