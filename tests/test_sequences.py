"""Catalog sequences (DuckDB CREATE SEQUENCE / nextval / currval) —
lake/sequence.py plus the SQL-surface wiring in LakeCatalog and the
writer's ``DEFAULT nextval('seq')`` auto-increment path.

Allocation is block-per-statement over a lock-free CAS chain, value
assignment is per-partition arithmetic (no shuffle, no window); like
DuckDB under parallel execution, WHICH row gets WHICH value is
unspecified, so tests assert the sequence contract — uniqueness,
density, bounds — never a row↔value mapping.
"""

import threading

import pytest
from pyspark.sql import functions as F

from ducklake_kafka_connect_spark.lake import LakeCatalog, LakeWriter
from ducklake_kafka_connect_spark.lake import sequence as seq


@pytest.fixture
def cat(spark, tmp_path):
    return LakeCatalog(spark, str(tmp_path))


class TestSequenceDdl:
    def test_create_show_drop(self, cat):
        cat.sql("CREATE SEQUENCE s1")
        cat.sql("CREATE SEQUENCE s2 START 100 INCREMENT 5 MAXVALUE 1000")
        rows = {r["name"]: r for r in cat.sql("SHOW SEQUENCES").collect()}
        assert set(rows) == {"s1", "s2"}
        assert rows["s1"]["next"] == 1 and rows["s1"]["increment"] == 1
        assert rows["s2"]["next"] == 100 and rows["s2"]["max"] == 1000
        cat.sql("DROP SEQUENCE s1")
        assert [r["name"] for r in cat.sql("SHOW SEQUENCES").collect()] == ["s2"]

    def test_duplicate_and_if_not_exists_and_replace(self, cat):
        cat.sql("CREATE SEQUENCE s START 7")
        with pytest.raises(ValueError, match="already exists"):
            cat.sql("CREATE SEQUENCE s")
        cat.sql("CREATE SEQUENCE IF NOT EXISTS s START 99")  # no-op
        assert seq.sequence_state(cat.fs, cat.root, "s")["next"] == 7
        cat.sql("CREATE OR REPLACE SEQUENCE s START 99")
        assert seq.sequence_state(cat.fs, cat.root, "s")["next"] == 99

    def test_drop_missing(self, cat):
        with pytest.raises(ValueError, match="does not exist"):
            cat.sql("DROP SEQUENCE ghost")
        cat.sql("DROP SEQUENCE IF EXISTS ghost")  # silent

    def test_bad_option_raises(self, cat):
        with pytest.raises(ValueError, match="unrecognized option"):
            cat.sql("CREATE SEQUENCE s BOGUS 5")

    def test_descending_defaults(self, cat):
        cat.sql("CREATE SEQUENCE down INCREMENT -1")
        st = seq.sequence_state(cat.fs, cat.root, "down")
        assert st["next"] == -1 and st["max"] == -1 and st["min"] is None

    def test_refused_inside_transaction(self, cat):
        cat.sql("BEGIN")
        try:
            with pytest.raises(ValueError, match="unversioned"):
                cat.sql("CREATE SEQUENCE s")
            with pytest.raises(ValueError, match="unversioned"):
                cat.sql("DROP SEQUENCE s")
        finally:
            cat.sql("ROLLBACK")


class TestInsertValuesNextval:
    def test_block_per_statement(self, cat):
        cat.sql("CREATE SEQUENCE ids")
        cat.sql("CREATE TABLE t (id BIGINT, v STRING, PRIMARY KEY (id))")
        cat.sql("INSERT INTO t VALUES (nextval('ids'), 'a'), (nextval('ids'), 'b')")
        cat.sql("INSERT INTO t VALUES (nextval('ids'), 'c')")
        got = sorted(
            (r["id"], r["v"]) for r in cat.sql("SELECT id, v FROM t").collect()
        )
        assert got == [(1, "a"), (2, "b"), (3, "c")]

    def test_currval(self, cat):
        cat.sql("CREATE SEQUENCE ids")
        with pytest.raises(ValueError, match="has not been called"):
            cat.sql("SELECT currval('ids') AS c")
        with pytest.raises(ValueError, match="does not exist"):
            cat.sql("SELECT currval('ghost') AS c")
        cat.sql("CREATE TABLE t (id BIGINT, v STRING)")
        cat.sql("INSERT INTO t VALUES (nextval('ids'), 'a'), (nextval('ids'), 'b')")
        assert cat.sql("SELECT currval('ids') AS c").collect()[0]["c"] == 2

    def test_exhaustion_and_cycle(self, cat):
        cat.sql("CREATE SEQUENCE tiny MAXVALUE 2")
        cat.sql("CREATE TABLE t (id BIGINT)")
        with pytest.raises(seq.SequenceExhausted):
            cat.sql(
                "INSERT INTO t VALUES (nextval('tiny')), (nextval('tiny')), "
                "(nextval('tiny'))"
            )
        cat.sql("CREATE SEQUENCE wheel MAXVALUE 2 CYCLE")
        cat.sql("INSERT INTO t VALUES (nextval('wheel')), (nextval('wheel'))")
        cat.sql("INSERT INTO t VALUES (nextval('wheel'))")  # wraps to 1
        got = sorted(r["id"] for r in cat.sql("SELECT id FROM t").collect())
        assert got == [1, 1, 2]


class TestSelectNextval:
    @pytest.fixture
    def t(self, cat):
        cat.sql("CREATE SEQUENCE sk START 10 INCREMENT 2")
        cat.sql("CREATE TABLE src (pk BIGINT, grp STRING, PRIMARY KEY (pk))")
        LakeWriter(cat.table("src"), auto_create=False).write(
            cat.spark.range(20).select(
                F.col("id").alias("pk"),
                (F.col("id") % 3).cast("string").alias("grp"),
            )
        )
        return cat

    def test_unique_dense_block(self, t):
        rows = t.sql("SELECT nextval('sk') AS sk, pk FROM src").collect()
        keys = sorted(r["sk"] for r in rows)
        assert keys == list(range(10, 10 + 2 * 20, 2))
        assert sorted(r["pk"] for r in rows) == list(range(20))
        # column order preserved
        assert t.sql("SELECT nextval('sk') AS a, pk FROM src").columns == [
            "a", "pk",
        ]
        assert t.sql("SELECT pk, nextval('sk') AS a FROM src").columns == [
            "pk", "a",
        ]

    def test_bare_nextval_only(self, t):
        rows = t.sql("SELECT nextval('sk') FROM src").collect()
        assert len(rows) == 20
        assert len({r["nextval"] for r in rows}) == 20

    def test_currval_after_select(self, t):
        t.sql("SELECT nextval('sk') AS sk FROM src").collect()
        # 20 rows from 10 step 2 → last = 48
        assert t.sql("SELECT currval('sk') AS c").collect()[0]["c"] == 48

    def test_filters_and_order_compose(self, t):
        rows = t.sql(
            "SELECT nextval('sk') AS sk, pk FROM src WHERE grp = '1' "
        ).collect()
        n = len(rows)
        assert n == 7  # pk % 3 == 1 within 0..19
        assert len({r["sk"] for r in rows}) == n

    def test_empty_frame_allocates_nothing(self, t):
        before = seq.sequence_state(t.fs, t.root, "sk")["next"]
        rows = t.sql("SELECT nextval('sk') AS sk FROM src WHERE pk < 0").collect()
        assert rows == []
        assert seq.sequence_state(t.fs, t.root, "sk")["next"] == before

    def test_refusals(self, t):
        with pytest.raises(ValueError, match="whole select-list item"):
            t.sql("SELECT nextval('sk') + 1 AS x FROM src")
        with pytest.raises(ValueError, match="top-level select list"):
            t.sql("SELECT pk FROM src WHERE pk = nextval('sk')")
        with pytest.raises(ValueError, match="top level"):
            t.sql("SELECT DISTINCT nextval('sk') AS x FROM src")

    def test_insert_from_select(self, t):
        t.sql("CREATE TABLE dst (sk BIGINT, pk BIGINT, PRIMARY KEY (sk))")
        t.sql("INSERT INTO dst SELECT nextval('sk') AS sk, pk FROM src")
        rows = t.sql("SELECT sk, pk FROM dst").collect()
        assert len(rows) == 20
        assert len({r["sk"] for r in rows}) == 20


class TestDefaultNextval:
    def test_append_fills_omitted_column(self, cat):
        cat.sql("CREATE SEQUENCE ids")
        cat.sql(
            "CREATE TABLE auto (k BIGINT DEFAULT nextval('ids'), p STRING)"
        )
        w = LakeWriter(cat.table("auto"), auto_create=False)
        w.write(cat.spark.createDataFrame([("x",), ("y",)], "p string"))
        w.write(cat.spark.createDataFrame([("z",)], "p string"))
        got = sorted(
            (r["k"], r["p"]) for r in cat.sql("SELECT k, p FROM auto").collect()
        )
        assert [k for k, _ in got] == [1, 2, 3]

    def test_merge_path_fills_too(self, cat):
        cat.sql("CREATE SEQUENCE ids")
        cat.sql(
            "CREATE TABLE auto (pk BIGINT, k BIGINT DEFAULT nextval('ids'), "
            "PRIMARY KEY (pk))"
        )
        w = LakeWriter(cat.table("auto"), pk=["pk"], auto_create=False)
        w.write(cat.spark.createDataFrame([(1,), (2,)], "pk bigint"))
        w.write(cat.spark.createDataFrame([(3,)], "pk bigint"))  # merge now
        ks = sorted(r["k"] for r in cat.sql("SELECT k FROM auto").collect())
        assert ks == [1, 2, 3]

    def test_provided_column_wins(self, cat):
        cat.sql("CREATE SEQUENCE ids")
        cat.sql(
            "CREATE TABLE auto (k BIGINT DEFAULT nextval('ids'), p STRING)"
        )
        w = LakeWriter(cat.table("auto"), auto_create=False)
        w.write(cat.spark.createDataFrame([(77, "x")], "k bigint, p string"))
        assert cat.sql("SELECT k FROM auto").collect()[0]["k"] == 77
        assert seq.sequence_state(cat.fs, cat.root, "ids")["next"] == 1


class TestConcurrentAllocation:
    def test_threads_never_overlap(self, cat):
        seq.create_sequence(cat.fs, cat.root, "c")
        out: list[int] = []
        lock = threading.Lock()

        def worker():
            for _ in range(20):
                lo = seq.allocate(cat.fs, cat.root, "c", 5)
                with lock:
                    out.extend(range(lo, lo + 5))

        ts = [threading.Thread(target=worker) for _ in range(4)]
        for th in ts:
            th.start()
        for th in ts:
            th.join()
        assert len(out) == 4 * 20 * 5
        assert len(set(out)) == len(out)  # no block ever handed out twice
        assert sorted(out) == list(range(1, 1 + len(out)))


class _StallOnce:
    """The catalog fs, except that the first ``put_if_absent`` runs
    ``stall`` before (``when="pre"``) or after (``"post"``) the create:
    the other writer's progress while this one is stalled."""

    def __init__(self, fs, stall, when):
        self._fs, self._stall, self._when = fs, stall, when

    def __getattr__(self, attr):
        return getattr(self._fs, attr)

    def put_if_absent(self, path, data):
        stall, self._stall = self._stall, None
        if stall and self._when == "pre":
            stall()
        ok = self._fs.put_if_absent(path, data)
        if stall and self._when == "post":
            stall()
        return ok


class TestAllocationInterleave:
    """Deterministic interleaves of one allocation against another
    writer that advances the chain past GC_TAIL while it is stalled."""

    def _run(self, cat, when):
        seq.create_sequence(cat.fs, cat.root, "c")
        other: list[int] = []

        def interloper():
            for _ in range(seq.GC_TAIL + 2):
                other.append(seq.allocate(cat.fs, cat.root, "c", 5))

        stalled = _StallOnce(cat.fs, interloper, when)
        mine = seq.allocate(stalled, cat.root, "c", 5)
        values = [v for lo in [*other, mine] for v in range(lo, lo + 5)]
        return mine, values

    def test_create_on_a_freed_name_is_retracted(self, cat):
        """Read the tip, stall while GC frees the next generation's
        name, then create it: the create landed below the tip with a
        block already given away, so it is retracted and replanned."""
        mine, values = self._run(cat, "pre")
        assert len(set(values)) == len(values), "a block was handed out twice"
        assert sorted(values) == list(range(1, 1 + len(values)))
        assert mine == 1 + 5 * (seq.GC_TAIL + 2)

    def test_create_with_later_descendants_is_kept(self, cat):
        """Create the tip, then stall while GC_TAIL+2 descendants land
        before the check: the ancestor ring proves descent, so the block
        is kept (no retraction, no gap)."""
        mine, values = self._run(cat, "post")
        assert mine == 1
        assert sorted(values) == list(range(1, 1 + len(values)))
