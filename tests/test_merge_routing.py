"""Copy-on-write MERGE routing as one decision table.

Every copy-on-write merge runs on one of two executors: the driver-side
Arrow merge (``LakeWriter._merge_arrow``) or the Spark pruning merge
(``LakeWriter._merge_once``); merge-on-read tables commit delta +
tombstone files instead. Each row below names an input class and the
executor it must take (read off ``metrics.REGISTRY``), and its result
must equal the pruning executor's on the same inputs — including which
matched keys keep their original ``_inserted_at``, the table's partition
dirs, and every pre-merge file the pruning executor leaves in place."""

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


def _complex_column(spark, w, t):
    # a complex column is stored as JSON text (to_physical_schema)
    w.merge(_batch(spark, 30, 50, "wide")
            .withColumn("tags", F.array(F.col("name"), F.col("id").cast("string"))))


def _widening(spark, w, t):
    # seq int → bigint (values past int32) from a February-only batch:
    # January's file keeps int32 seq, February's new file is int64
    w.merge(_batch(spark, 40, 45, "wide", ts=FEB)
            .withColumn("seq", F.col("id") + (1 << 40)))
    # re-read the mixed-width files instead of the merge's cached target
    wmod._ARROW_TARGET_CACHE.clear()
    w.merge(_batch(spark, 0, 5, "jan"))


def _add_column_ddl(spark, w, t):
    t.add_column("score", "double")  # metadata only: no file has score
    w.merge(_batch(spark, 30, 50, "upd").withColumn("score", F.lit(2.5)))


def _evolve_on_cached_target(spark, w, t):
    w.merge(_batch(spark, 30, 45, "warm"))  # caches the target
    w.merge(_batch(spark, 40, 50, "wide").withColumn("score", F.lit(1.5)))


def _evolved_untouched_dir(spark, w, t):
    w.merge(_batch(spark, 40, 50, "feb", ts=FEB))
    # ADD COLUMN from a January-only batch: February keeps its old file
    w.merge(_batch(spark, 0, 10, "wide").withColumn("score", F.lit(1.5)))
    w.merge(_batch(spark, 45, 55, "feb2", ts=FEB))


def _new_partition_value(spark, w, t):
    w.merge(_batch(spark, 30, 50, "feb", ts=FEB))


def _multi_dir(spark, w, t):
    w.merge(_batch(spark, 35, 45, "feb", ts=FEB))  # second dir
    w.merge(_batch(spark, 0, 10, "upd"))  # the routed merge


def _partition_drift(spark, w, t):
    w.merge(_batch(spark, 40, 45, "feb", ts=FEB))
    # 0..9 move into the existing February dir, 40..41 back to January
    w.merge(_batch(spark, 0, 10, "moved", ts=FEB)
            .unionByName(_batch(spark, 40, 42, "back")))


def _tombstone_empties_dir(spark, w, t):
    w.merge(_batch(spark, 40, 46, "feb", ts=FEB))
    w.merge(_batch(spark, 40, 46, "x", ts=FEB).withColumn("del", F.lit(True)),
            tombstone_col="del")


def _untouched_dir_kept(spark, w, t):
    w.merge(_batch(spark, 40, 50, "feb", ts=FEB))
    w.merge(_batch(spark, 45, 55, "feb2", ts=FEB))  # January untouched


def _null_partition_value(spark, w, t):
    w.merge(_batch(spark, 30, 35, "nul")
            .withColumn("created_at", F.lit(None).cast("timestamp")))


def _rename_to(value):
    """Move keys 30..49 into the dir of ``name`` = ``value`` (a
    Hive-escaped or null-marker dir) of the ``name``-partitioned table."""

    def step(spark, w, t):
        w.merge(_batch(spark, 30, 50, "x")
                .withColumn("name", F.lit(value).cast("string")))

    return step


def _one_row_per_key(r):
    ids = [row[0] for row in r["rows"]]
    assert len(ids) == len(set(ids)) == 45
    moved = {row[0]: row[1] for row in r["rows"] if row[0] < 10 or row[0] >= 40}
    assert moved == {**{i: "moved" for i in range(10)},
                     40: "back", 41: "back", 42: "feb", 43: "feb", 44: "feb"}


def _dir_dropped(r):
    assert sorted(r["files_after"]) == sorted(r["files_before"])
    assert [row[0] for row in r["rows"]] == list(range(40))


def _dir_files_unchanged(r):
    (jan,) = r["files_before"]
    assert r["files_after"][jan] == r["files_before"][jan]


# (case, merge step, partitioned (or the partition spec), writer
# merge_mode, executor, extra check)
CASES = [
    ("small_unpartitioned", _small, False, None, "arrow", None),
    ("small_with_tombstones", _tombstones, False, None, "arrow", None),
    ("merge_many_ephemeral_order", _merge_many, False, None, "arrow", None),
    ("schema_evolving_batch", _schema_change, False, None, "arrow", None),
    ("complex_column_batch", _complex_column, False, None, "arrow", None),
    ("widening_batch", _widening, True, None, "arrow", None),
    ("add_column_ddl_then_merge", _add_column_ddl, False, None, "arrow", None),
    ("evolve_on_cached_target", _evolve_on_cached_target, False, None, "arrow",
     None),
    ("evolved_untouched_dir", _evolved_untouched_dir, True, None, "arrow", None),
    ("new_partition_value", _new_partition_value, True, None, "arrow", None),
    ("multi_dir_table", _multi_dir, True, None, "arrow", None),
    ("partition_drift", _partition_drift, True, None, "arrow", _one_row_per_key),
    ("tombstone_empties_dir", _tombstone_empties_dir, True, None, "arrow",
     _dir_dropped),
    ("untouched_dir_kept", _untouched_dir_kept, True, None, "arrow",
     _dir_files_unchanged),
    ("null_partition_value", _null_partition_value, True, None, "arrow", None),
    # string partition values Spark's partitionBy escapes or maps to the
    # null marker: the Arrow merge names the same dirs
    ("partition_space", _rename_to("a b"), "name", None, "arrow", None),
    ("partition_slash", _rename_to("a/b"), "name", None, "arrow", None),
    ("partition_equals", _rename_to("a=b"), "name", None, "arrow", None),
    ("partition_percent", _rename_to("100%"), "name", None, "arrow", None),
    ("partition_non_ascii", _rename_to("café ü"), "name", None, "arrow", None),
    ("partition_empty_string", _rename_to(""), "name", None, "arrow", None),
    ("partition_null", _rename_to(None), "name", None, "arrow", None),
    ("merge_on_read", _small, False, "merge-on-read", "mor", None),
    # merge-on-read through the Spark prologue copy-on-write shares
    ("mor_tombstones", _tombstones, False, "merge-on-read", "mor", None),
    ("mor_merge_many", _merge_many, False, "merge-on-read", "mor", None),
    ("mor_partition_drift", _partition_drift, True, "merge-on-read", "mor",
     _one_row_per_key),
]


def _snapshot():
    s = REGISTRY.snapshot()
    ops, ctr = s["operations"], s["counters"]
    return {
        "arrow": ops.get("merge.arrowWrite", {}).get("count", 0),
        "pruning": ops.get("merge.planAgg", {}).get("count", 0),
        "mor": ctr.get("merge.morCommits", 0),
        "fallback": ctr.get("merge.arrowFallback", 0),
    }


def _executor(before, after):
    # merge-on-read also runs the planning aggregate: check it first
    for name in ("mor", "arrow", "pruning"):
        if after[name] > before[name]:
            return name
    return None


def _file_ids(m, files):
    """Executor-independent identity of data files: (dir, id range, rows)."""
    by_dir = {f: k for k, v in m.files.items() for f in v}
    return {
        (by_dir[f], tuple(m.file_stats[f]["id"][:2]), m.file_stats[f]["__rows"])
        for f in files
    }


def _run(spark, root, step, partitioned, mode):
    """``partitioned``: False, True (by ``month(created_at)``) or a
    partition spec."""
    cat = LakeCatalog(spark, root)
    t = cat.table("t")
    if partitioned is True:
        partitioned = "month(created_at)"
    w = LakeWriter(t, pk=["id"], merge_mode=mode, partition_by=partitioned or None)
    w.append(_base(spark))
    stamps = {
        r["id"]: r["_inserted_at"]
        for r in t.read().select("id", "_inserted_at").collect()
    }
    m0 = t.manifest()
    before = _snapshot()
    step(spark, w, t)
    after = _snapshot()
    m1 = t.manifest()
    extra = sorted(c for c in t.read().columns if c not in (
        "id", "name", "seq", "created_at", "_inserted_at"))
    rows = sorted(
        (r["id"], r["name"], r["seq"], r["created_at"],
         r["_inserted_at"] == stamps[r["id"]] if r["id"] in stamps else None,
         *(r[c] for c in extra))
        for r in t.read().collect()
    )
    kept = set(m0.all_files()) & set(m1.all_files())
    return {
        "ran": _executor(before, after),
        "delta": {k: after[k] - before[k] for k in after},
        "rows": rows,
        "extra": extra,
        "files_before": m0.files,
        "files_after": m1.files,
        "kept": _file_ids(m0, kept),
    }


@pytest.mark.parametrize(
    "case,step,partitioned,mode,executor,check", CASES, ids=[c[0] for c in CASES]
)
def test_merge_routing_decision_table(
    spark, tmp_path, monkeypatch, case, step, partitioned, mode, executor, check
):
    got = _run(spark, str(tmp_path / "routed"), step, partitioned, mode)
    # the reference: copy-on-write on the pruning executor
    monkeypatch.setattr(wmod.LakeWriter, "_merge_arrow", lambda self, *a, **k: None)
    ref = _run(spark, str(tmp_path / "pruning"), step, partitioned, None)
    assert got["ran"] == executor, f"{case}: ran on {got['ran']}, expected {executor}"
    assert ref["ran"] == "pruning"
    if executor == "arrow":  # every merge of the step, none declined late
        assert got["delta"]["pruning"] == got["delta"]["fallback"] == 0, got["delta"]
    assert got["rows"] == ref["rows"] and got["extra"] == ref["extra"]
    assert sorted(got["files_after"]) == sorted(ref["files_after"])
    if mode is None:
        assert ref["kept"] <= got["kept"], f"{case}: rewrote a file the pruning merge keeps"
    if check:
        check(got)


@pytest.mark.parametrize("path", ["default", "pruning", "merge-on-read"])
def test_null_key_never_matches_a_target_row(spark, tmp_path, monkeypatch, path):
    """A NULL key never matches a stored row, as in the reference's
    ``MERGE INTO t USING tmp USING (pk)``, whatever the table's size or
    merge mode: the batch's NULL-key row lands beside the stored one.
    Within one batch, NULL keys still collapse to the last write."""
    if path == "pruning":
        monkeypatch.setattr(wmod.LakeWriter, "_merge_arrow", lambda self, *a, **k: None)
    t = LakeCatalog(spark, str(tmp_path)).table("t")
    mode = "merge-on-read" if path == "merge-on-read" else None
    w = LakeWriter(t, pk=["id"], merge_mode=mode)
    schema = "id long, v string"

    def rows():
        got = [tuple(r) for r in t.read().select("id", "v").collect()]
        return sorted(got, key=lambda r: (r[0] is None, r[0] or 0, r[1]))

    w.append(spark.createDataFrame([(1, "a"), (None, "n0")], schema))
    w.merge(spark.createDataFrame([(None, "n1"), (1, "b")], schema))
    assert rows() == [(1, "b"), (None, "n0"), (None, "n1")]
    w.merge(spark.createDataFrame([(None, "x"), (None, "y")], schema))
    assert rows() == [(1, "b"), (None, "n0"), (None, "n1"), (None, "y")]


def _warm_upsert_jobs(spark, root, batch, group):
    """Spark jobs of one small-table upsert of ``batch`` (a distributed
    plan, not a folded LocalRelation) after a warm-up merge; returns
    (job ids, {id: row} read back)."""
    cat = LakeCatalog(spark, root)
    w = LakeWriter(cat.table("t"), pk=["id"])
    w.append(_base(spark))
    w.merge(_batch(spark, 30, 50, "warm"))
    sc = spark.sparkContext
    sc.setJobGroup(group, "one small upsert")
    try:
        w.merge(batch)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    return jobs, {r["id"]: r for r in cat.table("t").read().collect()}


def test_small_upsert_from_non_local_frame_is_one_spark_job(spark, tmp_path):
    """A small-table upsert whose batch is a distributed plan (not a
    folded LocalRelation) costs exactly the one batch-evaluation job."""
    jobs, got = _warm_upsert_jobs(
        spark, str(tmp_path), _batch(spark, 20, 60, "upd"), "merge_routing_jobs"
    )
    assert len(jobs) == 1, jobs
    assert len(got) == 60 and got[25]["name"] == "upd" and got[5]["name"] == "base5"


def test_evolving_small_upsert_is_one_spark_job(spark, tmp_path):
    """An upsert that adds a column costs the same one job: the schema
    change commits with the Arrow merge, not on the Spark executor."""
    batch = _batch(spark, 20, 60, "wide").withColumn("score", F.lit(1.5))
    jobs, got = _warm_upsert_jobs(
        spark, str(tmp_path), batch, "merge_routing_jobs_evolving"
    )
    assert len(jobs) == 1, jobs
    assert len(got) == 60 and got[25]["score"] == 1.5 and got[5]["score"] is None


@pytest.mark.parametrize("executor", ["arrow", "pruning"])
def test_empty_string_partition_value_updates_in_place(
    spark, tmp_path, monkeypatch, executor
):
    """A merge of a key whose partition value is ``""`` updates its row
    in the null marker's dir (where Spark's partitionBy puts ``""``) on
    either executor, past the pruning merge's small-manifest shortcut."""
    if executor == "pruning":
        monkeypatch.setattr(wmod.LakeWriter, "_merge_arrow", lambda self, *a, **k: None)
    t = LakeCatalog(spark, str(tmp_path)).table("t")
    w = LakeWriter(t, pk=["id"], partition_by="kind")
    schema = "id long, kind string, v string"
    for i in range(10):
        w.append(spark.createDataFrame([(i, f"a{i}", "x")], schema))
    w.append(spark.createDataFrame([(100, "", "old")], schema))
    assert len(t.manifest().all_files()) > wmod.MERGE_SMALL_MANIFEST_FILES
    w.merge(spark.createDataFrame([(100, "", "new")], schema))
    rows = [tuple(r) for r in t.read().filter("id = 100").select("kind", "v").collect()]
    assert rows == [("", "new")]


def test_merge_flushes_an_inline_append_that_lands_before_its_replan(
    spark, tmp_path, monkeypatch
):
    """An inline append landing between the merge's planning and its
    first attempt's commit forces a replan; the replan flushes the new
    buffer first, so the batch's key updates the buffered row instead
    of being inserted beside it."""
    t = LakeCatalog(spark, str(tmp_path)).table("t")
    schema = "id long, v string"
    w = LakeWriter(t, pk=["id"])
    w.append(spark.createDataFrame([(1, "base")], schema))
    t.set_properties({"write.inlining.row.limit": "50"})
    real = wmod.LakeWriter._merge_once
    landed = []

    def inline_append_then_merge(self, *a, **k):
        if not landed:  # the concurrent inline append
            LakeWriter(t, pk=["id"]).append(
                spark.createDataFrame([(2, "inline-between")], schema))
            landed.append(True)
        return real(self, *a, **k)

    monkeypatch.setattr(wmod.LakeWriter, "_merge_once", inline_append_then_merge)
    w.merge(spark.createDataFrame([(2, "merged")], schema))
    assert landed
    rows = sorted(tuple(r) for r in t.read().select("id", "v").collect())
    assert rows == [(1, "base"), (2, "merged")]
