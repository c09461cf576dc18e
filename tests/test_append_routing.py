"""Append shapes as one decision table.

Every append, INSERT OVERWRITE and inline flush runs through one body
(``LakeWriter._append`` / ``_append_locked``). It evaluates a small batch
on the driver once and commits in exactly one shape: an inline blob,
driver-written Arrow files (an inline overflow carries the buffer along),
or Spark-written files for a batch over the cap. Each row below names an
input class and the shape it must take (read off ``metrics.REGISTRY``),
how many versions the step commits, and its table contents and partition
dirs must equal the Spark write's on the same inputs."""

import uuid

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from ducklake_kafka_connect_spark.lake import LakeCatalog, LakeWriter
from ducklake_kafka_connect_spark.lake import writer as wmod
from ducklake_kafka_connect_spark.lake.inline import inline_state
from ducklake_kafka_connect_spark.metrics import REGISTRY
from ducklake_kafka_connect_spark.schema.reconcile import ReconcileError

SHAPES = {
    "inline": ("op", "append.inlineCommit"),
    "flush": ("op", "append.inlineFlush"),
    "arrow": ("op", "append.arrowWrite"),
    "spark": ("op", "write.dataFiles"),
    "eval": ("op", "append.arrowBatchEval"),
    "fallback": ("ctr", "append.arrowFallback"),
}


def _snapshot():
    s = REGISTRY.snapshot()
    return {
        k: (s["operations"].get(n, {}).get("count", 0) if kind == "op"
            else s["counters"].get(n, 0))
        for k, (kind, n) in SHAPES.items()
    }


def _base(spark, lo=0, hi=20):
    return spark.range(lo, hi).select(
        F.col("id"),
        F.concat(F.lit("n"), F.col("id")).alias("name"),
        F.lit("x").alias("note"),
    )


def _setup_plain(spark, t):
    LakeWriter(t, pk=["id"]).append(_base(spark))


def _setup_inline(spark, t):
    _setup_plain(spark, t)
    t.set_properties({"write.inlining.row.limit": "50"})
    w = LakeWriter(t, pk=["id"])
    for i in range(100, 103):  # three buffered rows
        w.append(spark.createDataFrame([(i, f"b{i}", "x")],
                                       "id long, name string, note string"))


def _setup_kind(spark, t):
    LakeWriter(t, pk=["id"], partition_by="kind").append(
        spark.createDataFrame([(1, "plain")], "id long, kind string"))


def _distributed(spark, t):
    LakeWriter(t, pk=["id"]).append(_base(spark, 20, 40))


def _folded_local(spark, t):
    tbl = pa.table({"id": pa.array(range(20, 40), pa.int64()),
                    "name": [f"l{i}" for i in range(20, 40)],
                    "note": ["y"] * 20})
    LakeWriter(t, pk=["id"]).append(spark.createDataFrame(tbl))


def _over_the_cap(spark, t):
    # the optimizer sizes the filter as its 10M-row input: over the cap
    LakeWriter(t, pk=["id"]).append(
        _base(spark, 20, 10_000_000).filter(F.col("id") < 60))


def _inline_fits(spark, t):
    LakeWriter(t, pk=["id"]).append(_base(spark, 20, 22))


def _inline_overflow(spark, t):
    LakeWriter(t, pk=["id"]).append(_base(spark, 20, 68))  # 3 + 48 > 50


def _overwrite(spark, t):
    LakeWriter(t, pk=["id"]).overwrite(_base(spark, 500, 505))


def _kind(value):
    """Append rows 2 and 3 to the ``kind``-partitioned table, row 2 with
    partition value ``value`` (a Hive-escaped or null-marker dir)."""

    def step(spark, t):
        LakeWriter(t, pk=["id"], partition_by="kind").append(
            spark.range(2, 4).select(
                F.col("id"),
                F.when(F.col("id") == 2, F.lit(value).cast("string"))
                .otherwise("plain").alias("kind")))

    return step


def _race(old, new, batch):
    """A RENAME COLUMN landing between the append's planning and its
    commit: it runs as the batch is conformed to the planning manifest."""

    def step(spark, t, monkeypatch):
        real = wmod.LakeWriter._prepare_insert

        def rename_then_prepare(self, *a, **k):
            t.rename_column(old, new)  # the concurrent DDL
            return real(self, *a, **k)

        monkeypatch.setattr(wmod.LakeWriter, "_prepare_insert", rename_then_prepare)
        try:
            LakeWriter(t, pk=["id"]).append(batch(spark))
        finally:
            monkeypatch.setattr(wmod.LakeWriter, "_prepare_insert", real)

    return step


def _buffer_emptied(r):
    assert r["inlined"] == 0 and r["last_op"] == "FLUSH_INLINED"


def _buffer_kept(r):
    assert r["inlined"] == 5 and r["last_op"] == "INSERT_INLINE"


def _buffer_dropped(r):
    assert r["inlined"] == 0 and r["last_op"] == "INSERT_OVERWRITE"
    assert [row[0] for row in r["rows"]] == list(range(500, 505))


def _landed_under_new_name(r):
    assert "memo" in r["cols"] and "note" not in r["cols"]
    assert len(r["rows"]) == 40


def _refused(r):
    assert r["refused"] and len(r["rows"]) == 20


# (case, setup, step, shape, versions the step commits, Spark jobs, check)
CASES = [
    ("small_distributed_batch", _setup_plain, _distributed, "arrow", 1, 1, None),
    ("folded_local_batch", _setup_plain, _folded_local, "arrow", 1, 0, None),
    ("batch_over_the_cap", _setup_plain, _over_the_cap, "spark", 1, None, None),
    ("inline_fits", _setup_inline, _inline_fits, "inline", 1, None, _buffer_kept),
    ("inline_overflow", _setup_inline, _inline_overflow, "flush", 1, None,
     _buffer_emptied),
    ("overwrite_drops_buffer", _setup_inline, _overwrite, "arrow", 1, None,
     _buffer_dropped),
    # partition values Spark's partitionBy escapes or maps to the null
    # marker: the driver names the same dirs
    ("partition_token", _setup_kind, _kind("a b:c"), "arrow", 1, None, None),
    ("partition_space", _setup_kind, _kind("a b"), "arrow", 1, None, None),
    ("partition_slash", _setup_kind, _kind("a/b"), "arrow", 1, None, None),
    ("partition_equals", _setup_kind, _kind("a=b"), "arrow", 1, None, None),
    ("partition_percent", _setup_kind, _kind("100%"), "arrow", 1, None, None),
    ("partition_non_ascii", _setup_kind, _kind("café ü"), "arrow", 1, None, None),
    ("partition_empty_string", _setup_kind, _kind(""), "arrow", 1, None, None),
    ("partition_null", _setup_kind, _kind(None), "arrow", 1, None, None),
    # a rename of a column the batch does not carry lands with it
    ("rename_race_uncarried_column", _setup_plain,
     _race("note", "memo", lambda spark: _base(spark, 20, 40).drop("note")),
     "arrow", 2, None, _landed_under_new_name),
    # the batch carries the renamed column's old name: refused, only the
    # rename commits
    ("rename_race_carried_column", _setup_plain,
     _race("name", "label", lambda spark: _base(spark, 20, 40)),
     "refused", 1, None, _refused),
]


def _shape(d, refused):
    if refused:
        return "refused"
    for name in ("inline", "flush", "arrow", "spark"):
        if d[name]:
            return name
    return None


def _run(spark, root, setup, step, monkeypatch):
    t = LakeCatalog(spark, root).table("t")
    setup(spark, t)
    v0 = t.current_version()
    before = _snapshot()
    sc = spark.sparkContext
    group = f"append_routing_{uuid.uuid4().hex}"  # jobs of this step only
    sc.setJobGroup(group, "one append")
    refused = False
    try:
        if step.__code__.co_argcount == 3:
            step(spark, t, monkeypatch)
        else:
            step(spark, t)
    except ReconcileError:
        refused = True
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    after = _snapshot()
    m = t.manifest()
    delta = {k: after[k] - before[k] for k in after}
    cols = sorted(c for c in t.read().columns if c != "_inserted_at")
    return {
        "shape": _shape(delta, refused),
        "refused": refused,
        "delta": delta,
        "jobs": jobs,
        "versions": t.current_version() - v0,
        "cols": cols,
        "rows": sorted(tuple(r[c] for c in cols) for r in t.read().collect()),
        "inlined": inline_state(m)[1],
        "last_op": m.props.get("last_op"),
        "dirs": sorted(m.files),
    }


@pytest.mark.parametrize(
    "case,setup,step,shape,versions,jobs,check", CASES, ids=[c[0] for c in CASES]
)
def test_append_routing_decision_table(
    spark, tmp_path, monkeypatch, case, setup, step, shape, versions, jobs, check
):
    got = _run(spark, str(tmp_path / "routed"), setup, step, monkeypatch)
    # the reference: every batch over the driver-side cap → Spark files
    monkeypatch.setattr(wmod.LakeWriter, "ARROW_APPEND_MAX_BYTES", -1)
    ref = _run(spark, str(tmp_path / "spark"), setup, step, monkeypatch)
    assert got["shape"] == shape, f"{case}: took {got['shape']}, expected {shape}"
    assert ref["shape"] in ("spark", "refused")
    assert got["versions"] == versions, got
    # the batch is evaluated on the driver at most once, overflow included
    assert got["delta"]["eval"] == 1
    if jobs is not None:
        assert got["jobs"] == jobs, got
    assert got["rows"] == ref["rows"] and got["cols"] == ref["cols"]
    assert got["dirs"] == ref["dirs"]
    if got["shape"] == "arrow":
        assert got["delta"]["fallback"] == 0, got["delta"]
    if check:
        check(got)


def test_unknown_size_first_append_counts_its_arrow_skip(spark, tmp_path):
    """A small ``createDataFrame(list, ddl)`` batch has no size estimate,
    and a new table has no inline limit to bound a probe: its first
    append takes the Spark write, counted as
    ``append.arrowSkip.unknown_size``."""

    def skips():
        return REGISTRY.snapshot()["counters"].get("append.arrowSkip.unknown_size", 0)

    t = LakeCatalog(spark, str(tmp_path)).table("t")
    before = skips()
    LakeWriter(t, pk=["id"], partition_by="kind").append(
        spark.createDataFrame([(1, "a"), (2, "b")], "id long, kind string"))
    assert skips() - before == 1
    assert sorted(tuple(r) for r in t.read().select("id", "kind").collect()) == [
        (1, "a"), (2, "b")]
