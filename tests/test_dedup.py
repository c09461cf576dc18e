"""Tests for the shared pieces of operators/dedup.py and operators/text.py:
the prepared-plan memo the memoized queries build through, marker-token
language ID, and the fingerprint and repetition-ratio text signals."""

from pyspark.sql import functions as F

from ducklake_kafka_connect_spark.operators import dedup as D
from ducklake_kafka_connect_spark.operators.text import fingerprint_col, lang_id_col

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the warm window sill in the afternoon sun"
)
OTHER = (
    "completely different subject matter about distributed query engines "
    "processing columnar data with vectorized execution kernels"
)


class TestTextOps:
    def test_lang_id(self, spark):
        df = spark.createDataFrame(
            [("the cat and the dog is here",), ("el perro y la casa de que",), ("xyz qqq",)],
            "text string",
        )
        out = [r[0] for r in df.select(lang_id_col(F.col("text"))).collect()]
        assert out == ["en", "es", "und"]

    def test_fingerprint_stable_and_edit_robust(self, spark):
        df = spark.createDataFrame(
            [(1, BASE), (2, BASE), (3, OTHER)], "doc_id long, text string"
        )
        fps = [r[0] for r in df.select(fingerprint_col(F.col("text"))).collect()]
        assert fps[0] == fps[1]
        assert fps[0] != fps[2]

    def test_repetition_ratio(self, spark):
        from ducklake_kafka_connect_spark.operators.text import repetition_ratio_col

        df = spark.createDataFrame(
            [
                (1, "a b a b a b"),        # bigrams: ab ba ab ba ab → 2/5 distinct
                (2, "one two three four"), # all distinct → 0.0
                (3, "solo"),              # < 2 tokens → NULL
                (4, ""),                  # empty → NULL
            ],
            "doc_id long, text string",
        )
        out = {r.doc_id: r.rep for r in df.select(
            "doc_id", repetition_ratio_col(F.col("text")).alias("rep")
        ).collect()}
        assert out[1] == 0.6
        assert out[2] == 0.0
        assert out[3] is None
        assert out[4] is None


def _dup_pairs(docs, params=()):
    """Exact-duplicate edges (lowest id, other id), built through the
    memo with one persisted intermediate — the shape of the memoized
    query plans."""

    def build():
        base = D._persist(docs.select("doc_id", "text"))
        keep = base.groupBy("text").agg(F.min("doc_id").alias("id_a"))
        return (
            base.join(keep, "text")
            .filter(F.col("doc_id") != F.col("id_a"))
            .select("id_a", F.col("doc_id").alias("id_b"))
        )

    return D._memo_plan(docs, "dup_pairs", params, build)


class TestPlanMemo:
    """Prepared-plan memoization (_memo_plan): identical inputs reuse the
    built DataFrame; different inputs or params rebuild."""

    def test_same_input_returns_same_frame(self, spark):
        docs = spark.createDataFrame(
            [(i, f"alpha beta gamma delta {i}") for i in range(30)],
            "doc_id long, text string",
        )
        a = _dup_pairs(docs)
        b = _dup_pairs(docs)
        assert a is b

    def test_different_params_rebuild(self, spark):
        docs = spark.createDataFrame(
            [(i, f"alpha beta gamma delta {i}") for i in range(30)],
            "doc_id long, text string",
        )
        a = _dup_pairs(docs, params=(0.7,))
        b = _dup_pairs(docs, params=(0.5,))
        assert a is not b

    def test_different_input_rebuilds_and_results_differ(self, spark):
        d1 = spark.createDataFrame(
            [(1, "x y z x y z"), (2, "x y z x y z")], "doc_id long, text string"
        )
        d2 = spark.createDataFrame(
            [(1, "p q r s t u"), (2, "completely different words here now")],
            "doc_id long, text string",
        )
        p1 = _dup_pairs(d1)
        p2 = _dup_pairs(d2)
        assert p1 is not p2
        assert p1.count() == 1 and p2.count() == 0

    def test_memo_survives_clear_cache(self, spark):
        """clearCache between consumers must not corrupt results — the
        memo re-registers persisted intermediates on reuse."""
        docs = spark.createDataFrame(
            [(i, "same text for everyone") for i in range(10)],
            "doc_id long, text string",
        )
        before = {tuple(r) for r in _dup_pairs(docs).collect()}
        spark.catalog.clearCache()
        after = {tuple(r) for r in _dup_pairs(docs).collect()}
        assert before == after and len(before) == 9  # star edges to min id

    def test_tracked_frames_stay_flat_across_clear_cache(self, spark, tmp_path):
        """A memoized plan re-persists its intermediates after every
        clearCache, and the event-rate query persists a fresh one per
        run: neither may grow the list release_cached() walks."""
        import datetime as dt

        import pyarrow as pa
        import pyarrow.parquet as pq

        from ducklake_kafka_connect_spark.plans.queries import QUERIES

        t0 = dt.datetime(2024, 1, 1)
        pq.write_table(
            pa.table({
                "event_type": ["click", "view"] * 20,
                "ts": [t0 + dt.timedelta(minutes=17 * i) for i in range(40)],
            }),
            str(tmp_path / "events.parquet"),
        )
        docs = spark.createDataFrame(
            [(i, f"text {i % 3}") for i in range(12)], "doc_id long, text string"
        )
        spark.catalog.clearCache()
        sizes = []
        for _ in range(5):
            _dup_pairs(docs).collect()
            QUERIES["event_rate_anomaly"].fn(spark, str(tmp_path)).collect()
            sizes.append(len(D._CACHED_FRAMES))
            spark.catalog.clearCache()
        assert sizes == [2] * 5, sizes
