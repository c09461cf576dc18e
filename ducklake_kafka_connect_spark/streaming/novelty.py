"""Streaming fuzzy deduplication: a lake-backed standing MinHash/LSH
index probed per micro-batch.

A batch-mode MinHash novelty check made streaming: the index of everything
accepted so far lives in a lake table (band rows, partitioned by band),
each micro-batch probes it by band key, near-dups are dropped, and only
the NOVEL documents' band rows append back — so the loop is
self-maintaining and, crucially, self-idempotent: a redelivered batch
finds its own rows already in the index, flags every doc, and appends
nothing (the at-least-once → effectively-once upgrade the reference
gets from MERGE, here for fuzzy identity where no exact key exists).

Decision rule:

- a batch doc is flagged iff it shares an LSH band key with an index row
  (or a LOWER-id doc of the same batch) whose signature agrees on
  ≥ ``match_min`` of NUM_PERM components (default 8/16 ⇒ est. J ≥ 0.5);
- documents shorter than SHINGLE_N words carry one exact-text key
  (``t_<md5>``) with sentinel signatures, so short docs dedup exactly
  among themselves and never collide with banded keys;
- within a batch the LOWEST doc_id of a matching pair survives
  (keep-first; a dup-of-a-dup is still flagged — the one-pass collapse
  production LSH dedup uses, no union-find in the hot loop).

Scale design (100 TB): the index stores (doc_id, band, band_key,
NUM_PERM longs) — tens of bytes per accepted doc — partitioned by band
so probes parallelize and files stay bounded; probe cost is
O(batch · index-bucket density) via a hash join on band_key, never
O(corpus). Signatures compute over DISTINCT batch texts (md5 collapse)
exactly like the batch operators. Degenerate boilerplate buckets are
the known skew risk — production would cap bucket fan-in like
``minhash_pair_stages`` (MAX_BUCKET); this operator keeps the uncapped
rule so the decision stays exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..lake import LakeTable, LakeWriter
from ..operators.dedup import (
    BANDS,
    NUM_PERM,
    band_keys_col,
    minhash_signatures,
    sig_matches_col,
)

_SIG_NAMES = [f"s{i}" for i in range(NUM_PERM)]
DEFAULT_MATCH_MIN = 8  # ≥8/16 components ⇒ estimated Jaccard ≥ 0.5


def novelty_sig_rows(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Index/probe rows for a document frame: one row per (doc, band).

    Long docs (≥ SHINGLE_N words) emit BANDS rows with their banded
    signature keys; shorter docs emit one ``t_<md5>`` exact-text row
    with sentinel (-1) signatures — two equal sentinels agree on all
    NUM_PERM components, so exact short-doc duplicates match at full
    strength while never colliding with banded keys. Signatures compute
    once per DISTINCT text and fan out through slim hash joins."""
    hashed = docs.select(
        F.col(id_col).alias("doc_id"), F.md5(F.col(text_col)).alias("__th")
    )
    groups = (
        docs.select(F.md5(F.col(text_col)).alias("__th"), F.col(text_col).alias("text"))
        .groupBy("__th")
        .agg(F.first("text").alias("text"))
    )
    rsigs = minhash_signatures(
        groups.select(F.col("__th").alias("doc_id"), "text"), "doc_id", "text"
    ).withColumnRenamed("doc_id", "__th")
    # r14 (guide §2.5): AQE coalesces the signature aggregate down to
    # one post-shuffle partition at micro-batch sizes, which would run
    # the band-key hashing explode below — and every downstream probe
    # join over a persisted copy of these rows — on a single task. An
    # explicit-count repartition (AQE honors user-specified counts)
    # spreads the per-doc fan-out across the cores; the extra exchange
    # moves only slim (id, 16×int64) rows.
    n_part = docs.sparkSession.sparkContext.defaultParallelism
    sigged = hashed.join(rsigs, "__th", "left").repartition(
        n_part, F.col("doc_id")
    )
    keys = band_keys_col([F.col(n) for n in _SIG_NAMES])
    long_rows = sigged.filter(F.col(_SIG_NAMES[0]).isNotNull()).select(
        "doc_id",
        F.posexplode(keys).alias("band", "band_key"),
        *_SIG_NAMES,
    )
    short_rows = sigged.filter(F.col(_SIG_NAMES[0]).isNull()).select(
        "doc_id",
        F.lit(BANDS).alias("band"),
        F.concat(F.lit("t_"), F.col("__th")).alias("band_key"),
        *[F.lit(-1).cast("bigint").alias(n) for n in _SIG_NAMES],
    )
    return long_rows.unionByName(short_rows)


class StreamingNoveltyDedup:
    """foreachBatch-compatible fuzzy dedup against a lake-backed index.

    Usage::

        ded = StreamingNoveltyDedup(spark, root, "corpus_index")
        ded.bootstrap(existing_corpus)          # once
        (stream.writeStream
            .foreachBatch(lambda df, eid: sink(ded.process_batch(df)))
            .start())
    """

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        name: str = "novelty_index",
        match_min: int = DEFAULT_MATCH_MIN,
        id_col: str = "doc_id",
        text_col: str = "text",
    ):
        self.spark = spark
        self.match_min = int(match_min)
        self.id_col = id_col
        self.text_col = text_col
        self.table = LakeTable(spark, root, name)
        self.writer = LakeWriter(self.table, pk=[], partition_by="band")
        self._cached: list = []  # persisted frames, released next batch
        self.last_batch_stats: dict = {}

    # ---------- lifecycle ----------

    def bootstrap(self, corpus_docs: DataFrame) -> None:
        """Seed the index from an existing corpus (no novelty check)."""
        self.writer.write(novelty_sig_rows(corpus_docs, self.id_col, self.text_col))

    # ---------- the per-batch loop ----------

    # probe frames whose optimizer-estimated size is at or below this
    # broadcast into the band-key join (and the downstream anti-join):
    # a micro-batch-sized probe skips two exchange rounds, which is most
    # of a small batch's wall time. Oversized/unknown estimates keep the
    # shuffled hash join — the O(batch × bucket density) scale path.
    BROADCAST_PROBE_MAX_BYTES = 8 * 1024 * 1024

    def _probe_fits_broadcast(self, df: DataFrame) -> bool:
        try:
            est = int(
                df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
            )
            return 0 <= est <= self.BROADCAST_PROBE_MAX_BYTES
        except Exception:
            return False

    def _flagged_bids(self, rows: DataFrame) -> DataFrame:
        """Flagged doc ids (``bid``, with duplicates — consumers anti-
        join, which needs no dedup) for a batch-row frame: ONE join of
        the batch probe against (index rows ∪ lower-id batch rows) on
        band_key. Index rows carry ``idx_side`` so any index match
        flags, while within-batch matches flag only the higher id
        (keep-first). Collapsing the two probes into one join halves
        the shuffle stages of the old two-join+union+distinct shape."""
        probe = rows.select(
            F.col("doc_id").alias("bid"),
            "band_key",
            *[F.col(n).alias(f"{n}_a") for n in _SIG_NAMES],
        )
        if self._probe_fits_broadcast(probe):
            probe = F.broadcast(probe)
        side = rows.select(
            F.lit(False).alias("idx_side"),
            F.col("doc_id").alias("aid"),
            "band_key",
            *[F.col(n).alias(f"{n}_b") for n in _SIG_NAMES],
        )
        if self.table.exists():
            side = side.unionByName(
                self.table.read().select(
                    F.lit(True).alias("idx_side"),
                    F.lit(-1).cast("bigint").alias("aid"),
                    "band_key",
                    *[F.col(n).alias(f"{n}_b") for n in _SIG_NAMES],
                )
            )
        return (
            probe.join(side, "band_key")
            .filter(F.col("idx_side") | (F.col("aid") < F.col("bid")))
            .filter(sig_matches_col() >= self.match_min)
            .select("bid")
        )

    def _release(self) -> None:
        for df in self._cached:
            try:
                df.unpersist()
            except Exception:
                pass
        self._cached = []

    def flag_batch(self, batch_docs: DataFrame) -> DataFrame:
        """(doc_id, is_dup) for every batch doc — pure probe, no index
        mutation. ``process_batch`` composes this with the append."""
        rows = novelty_sig_rows(batch_docs, self.id_col, self.text_col)
        rows.persist()
        self._cached = self._cached + [rows]
        flagged = self._flagged_bids(rows)
        ids = batch_docs.select(F.col(self.id_col).alias("bid")).distinct()
        return ids.join(
            flagged.withColumn("__f", F.lit(True)), "bid", "left"
        ).select(
            F.col("bid").alias(self.id_col),
            F.coalesce("__f", F.lit(False)).alias("is_dup"),
        )

    def process_batch(
        self,
        batch_docs: DataFrame,
        txn: tuple[str, int] | None = None,
        rows: DataFrame | None = None,
    ) -> DataFrame:
        """Probe, append the novel docs' index rows, return the novel
        docs. Re-processing the same batch appends nothing (its rows
        are already in the index), so redelivery is safe even without
        the optional ``txn`` idempotence marker.

        ``rows`` optionally supplies precomputed ``novelty_sig_rows``
        for the batch (callers that already hold signature rows — e.g.
        a driver computing one signature pass over several slices —
        skip the per-batch recompute; the probe/append loop is
        unchanged).

        Job hygiene (the 15 s → ~4 s fix): the batch rows persist, the
        novel-id set persists and materializes ONCE (one count job
        executes the whole probe), and every downstream consumer — the
        index append, the returned novel-docs frame — reuses those
        cached frames instead of re-running the probe joins per action.
        ``last_batch_stats`` records the accounting so callers don't
        re-count the returned frame. Prior batches' cached frames
        release at the next call, never under a frame the caller may
        still hold."""
        self._release()  # previous batch's frames are consumed by now
        if txn is not None and self.writer.txn_applied(txn):
            self.last_batch_stats = {"n_novel": 0, "skipped_txn": True}
            return batch_docs.limit(0)
        if rows is None:
            rows = novelty_sig_rows(batch_docs, self.id_col, self.text_col)
        rows.persist()
        flagged = self._flagged_bids(rows)
        # persist the novel ROWS (not just ids): the count below runs the
        # whole probe once AND materializes the exact frame the index
        # append serializes — the append's batch evaluation becomes a
        # cache read instead of re-running the probe joins
        if self._probe_fits_broadcast(flagged):
            flagged = F.broadcast(flagged)
        novel_rows = rows.join(
            flagged, F.col("doc_id") == F.col("bid"), "left_anti"
        )
        novel_rows.persist()
        # ONE job runs the full probe. Every long doc emits exactly one
        # band-0 row (posexplode) and every short doc exactly one
        # band=BANDS row; countDistinct on top makes the accounting
        # robust to batches carrying duplicate doc_id rows (equal ids
        # are never flagged intra-batch since the aid<bid pairing
        # excludes equality) — the distinct aggregate runs over at most
        # one row per batch doc, so the exchange is tiny
        n_novel = (
            novel_rows.filter((F.col("band") == 0) | (F.col("band") == BANDS))
            .agg(F.countDistinct("doc_id").alias("n"))
            .first()["n"]
        )
        if n_novel:
            self.writer.append(novel_rows, txn=txn)
        rows.unpersist()
        self.last_batch_stats = {"n_novel": int(n_novel)}
        self._cached = self._cached + [novel_rows]
        novel_ids = novel_rows.select("doc_id").distinct()
        return batch_docs.join(
            F.broadcast(novel_ids.withColumnRenamed("doc_id", self.id_col)),
            self.id_col,
            "left_semi",
        )
