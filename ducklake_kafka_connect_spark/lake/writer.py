"""Write path: auto-create / evolve → route MERGE-vs-INSERT → commit.

Parity targets (reference ``ingestor/DucklakeWriter.java``):

- D3 routing (:85-96): MERGE only when PK columns are configured AND the
  table pre-existed; otherwise plain INSERT (append).
- D2 MERGE (:98-187): name-mapped upsert on the PK equi-join;
- D6 (:116-137): PK columns and ``_inserted_at`` never updated on match;
- B10 (:147-148,213-214): ``_inserted_at = NOW()`` stamped on insert only;
- D5: batch consolidation is ``unionByName`` / a single micro-batch;
- C8-C11: auto-create + ADD COLUMN + widening via ``schema/reconcile.py``.

MERGE runs on one of two copy-on-write executors, or as merge-on-read:

- **Driver-side Arrow merge** (``_merge_arrow``) for tables of at most
  ARROW_MERGE_MAX_BYTES, partitioned or not, with no merge-on-read state:
  one Spark job evaluates the batch, the merge, parquet write and stats
  harvest run in-process — the latency shape of the reference's
  in-process DuckDB ``MERGE INTO``.
  It rewrites only the files holding a key the batch updates or deletes
  and writes one file per partition dir it lands rows in. Every decline
  is a named check (``merge.arrowSkip.<reason>`` before the batch is
  evaluated, ``merge.arrowFallback.<reason>`` after).
- **Spark pruning merge** (``_merge_once``) for everything else, with
  one prologue for its two commit shapes: copy-on-write rewrites the
  pruned files, and merge-on-read (``write.merge.mode=merge-on-read``)
  commits delta + tombstone files instead.

A NULL key never matches a target row, as in the reference's
``MERGE INTO t USING tmp USING (pk)``: it is inserted beside any
stored NULL-key row. Within one batch, NULL keys still collapse to the
last write like any other key.

APPEND, INSERT OVERWRITE and the inline flush run through one body
(``_append`` → ``_append_locked``). A batch of at most
ARROW_APPEND_MAX_BYTES is evaluated on the driver once, by the helper
the Arrow merge uses (``_eval_arrow``), and the table lock picks one
commit shape:

- **Inline blob** (``INSERT_INLINE``) when the table opted in
  (``write.inlining.row.limit``) and buffer + batch fit the limit;
- **Driver-written Arrow files**, one per partition dir; a batch that
  fits the limit but overflows the buffer lands with it
  (``FLUSH_INLINED``);
- **Spark-written files** for a batch over the cap, and for Arrow-held
  rows whose driver write failed (``append.arrowFallback.error``).

Both Arrow executors name partition dirs and write files through
``lake/arrow_files.py`` — the writer the ``ducklake`` sink's tasks use
too — so their dirs are the ones Spark's ``partitionBy`` would name.

Every commit builds its successor manifest with ``Manifest.successor``
and its file set with ``Manifest.replace_files``.

The pruning merge is the 100 TB design. The source micro-batch is small
relative to the table, so every join broadcasts the source — the target
is **never shuffled**, whatever the size of the rewrite set. (Batches
above MERGE_BROADCAST_ROWS — bulk backfills — degrade to ordinary
shuffle joins instead of OOMing the driver as a broadcast.) Affected partitions are computed from (a) the
source rows' partition values and (b) a column-pruned scan of target
(pk + partition columns) semi-joined against the broadcast source keys —
so keys whose update moves them across partitions delete their old
copy. Only affected partitions are re-read (file pruning happens
driver-side against the manifest) and rewritten; untouched partitions
keep their immutable files. Plan shape:

    scan(target, affected-partitions only)  ──┐
    broadcast(src) ── left_anti (untouched) ──┤
    broadcast(src) ── inner   (matched)     ──┼─ unionByName → write
    broadcast(src) ── left_anti (inserts)   ──┘

At 1000 executors this is one pruned scan + three broadcast hash joins —
no shuffle of table data, no sort. Pruning is two-level: partition dirs
(from the manifest) and files (parquet-footer min/max of the first PK
column, harvested at write time into the manifest) — only files whose
key range overlaps the batch are rewritten; everything else carries its
immutable files into the next snapshot untouched.
"""

from __future__ import annotations

import os
import re
from typing import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..metrics import REGISTRY
from ..schema.reconcile import INSERTED_AT, ReconcileError, plan_evolution
from .arrow_files import StagedFiles, _arrow_write_schema, _thread_map, dir_groups
from .partitioning import (
    canon_partition_value,
    dir_key_to_canon_tuple,
    partition_column_names,
    with_partition_columns,
)
from .table import CommitConflict, LakeTable, Manifest, is_complex, to_physical_schema


class ConstraintViolation(ValueError):
    """A batch failed a writer CHECK constraint; nothing was written."""

# Above this many affected partitions, skip per-partition pruning and
# rewrite via a full-table pass (the OR-filter would not be worth it).
MAX_PRUNED_PARTITIONS = 1024
# above this many source rows a MERGE batch is shuffle-joined, not broadcast
MERGE_BROADCAST_ROWS = 4_000_000
# batches up to this many rows Bloom-probe overlap files to shrink the
# rewrite set (keys already collected by the summarize job)
MERGE_BLOOM_PROBE_KEYS = 100_000
# Manifests at or below this many data files skip partition/outside-file
# pruning in the pruning merge: bloom-probing and rewriting a handful of
# files is cheaper than any extra planning job.
MERGE_SMALL_MANIFEST_FILES = 8
# Merges whose rewrite-set + batch estimate fits one output file write
# one file (or range-split files, see MERGE_TARGET_FILE_ROWS).
SMALL_OUTPUT_BYTES = 64 * 1024 * 1024
EST_ROW_BYTES = 256
# Small-merge outputs are range-split by PK into files of ~this many rows
# (capped), so per-file key ranges stay disjoint and later merges rewrite
# only the files their batch keys overlap (bounded rewrite amplification).
MERGE_TARGET_FILE_ROWS = 32_768
# Bytes floor for range-split output files: 2× the auto-compact small-file
# threshold, so a merge's own output can never re-trigger compaction.
MERGE_TARGET_FILE_BYTES = 16 * 1024 * 1024
MERGE_RANGE_MAX_FILES = 16


def _range_file_count(est_rows: int, est_bytes: int) -> int:
    """Range-split file count balancing two pressures: the ROWS term
    wants many narrow-key-range files (later merges prune to the files
    their keys overlap), the BYTES term refuses files so small that the
    commit's own output would re-trigger auto-compaction. Compaction
    fires only at MORE THAN ``AUTO_COMPACT_MIN_FILES`` small files per
    dir, so up to that many range files may sit under the byte target
    safely — narrow-row tables keep their pruning granularity."""
    rows_based = -(-est_rows // MERGE_TARGET_FILE_ROWS)
    bytes_based = -(-est_bytes // MERGE_TARGET_FILE_BYTES)
    return max(bytes_based, min(rows_based, AUTO_COMPACT_MIN_FILES))
# Large (non-small-output) CoW merges whose rewrite estimate is at or
# below this write through one AQE REBALANCE shuffle so the output comes
# out in ~advisory-sized files. Rationale: Spark splits a small rewrite
# set to minPartitionNum (= parallelism) scan tasks, so the "natural"
# layout emits one KB/MB-class file per task and every merge then paid a
# post-commit auto-compact — a SECOND full rewrite (measured 2.2 s of the
# 7.6 s wide26 bench merge). Above the gate the shuffle would move the
# whole rewrite set, and scan splits are ~maxPartitionBytes there anyway,
# which already IS the right output file size — natural stays (Iceberg
# write.distribution-mode=hash makes the same call).
MERGE_REBALANCE_MAX_BYTES = 1024 * 1024 * 1024

# Merge batches whose optimizer size estimate is at or below this are
# coalesced to 4 partitions before toArrow (stream-count overhead wins);
# larger/unknown estimates keep their parallelism (compute wins)
EVAL_COALESCE_MAX_BYTES = 4 * 1024 * 1024

# Tables (and target + batch in memory) at or below this size merge
# DRIVER-SIDE over Arrow — see _merge_arrow.
ARROW_MERGE_MAX_BYTES = 32 * 1024 * 1024
# {table_dir: (version, files, pyarrow.Table, row→file index)} — contents
# as of that committed version, with the index into ``files`` of the file
# each row lives in, populated by successful Arrow merges. Bounded (≤4
# tables, each ≤ARROW_MERGE_MAX_BYTES); any non-Arrow write bumps the
# version so the entry just misses. In-process analogue of an embedded
# engine's buffer pool: sequential small merges stop re-reading the table.
_ARROW_TARGET_CACHE: dict = {}
# merge_many's synthetic (batch ordinal, order) column — rides the merge
# plan, never enters the table schema
EPHEMERAL_ORDER = "__merge_seq_ord"
# Auto-compaction (DucklakeConnectionFactory.java:88-92 analogue, Delta
# autoOptimize shape): a commit that leaves a partition with more than
# MIN_FILES files under SMALL_BYTES each fires a targeted small-file
# compaction for the offenders — a steady micro-batch drip stays bounded
# in file count without an external OPTIMIZE schedule.
AUTO_COMPACT_MIN_FILES = 8
AUTO_COMPACT_SMALL_BYTES = 8 * 1024 * 1024


def _out_cols(final_logical: T.StructType, part_cols: Sequence[str]) -> list[str]:
    """Column order of every merge output: the physical table columns,
    ``_inserted_at``, then derived partition columns."""
    names = final_logical.fieldNames()
    return (
        [f.name for f in to_physical_schema(final_logical).fields]
        + [INSERTED_AT]
        + [c for c in part_cols if c not in names]
    )


# derived partition fn → Spark SQL function (partitioning._FNS twin)
_PART_SQL = {"year": "year", "month": "month", "day": "dayofmonth"}


def known_size(df: DataFrame) -> int | None:
    """The optimizer's size estimate of ``df`` in bytes (no Spark job),
    or None when it is unknown: an RDD-backed frame estimates at the
    8-EiB sentinel."""
    est = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    return est if est < 1 << 60 else None


def _eval_arrow(
    df: DataFrame,
    timer: str,
    max_bytes: int | None = None,
    max_rows: int | None = None,
):
    """Evaluate a small batch on the driver as a pyarrow Table — the
    one way both Arrow executors (append and merge) do it. A frame
    folded to a LocalRelation evaluates with ZERO Spark jobs (its rows
    already sit in the driver); anything else is ONE ``toArrow`` job,
    coalesced to 4 partitions when the optimizer estimates it at most
    EVAL_COALESCE_MAX_BYTES: a small batch often arrives in 32 map
    partitions, and collecting 32 near-empty Arrow streams is pure
    task-scheduling overhead (~70→30 ms for 10k rows), while a
    compute-heavy plan (a JSON decode) keeps its parallelism. coalesce
    merges ADJACENT partitions, so arrival order is kept.

    With ``max_bytes`` (only the append passes it), a batch over it
    returns None without a job when the estimate says so. An unknown
    estimate (the optimizer's 8-EiB sentinel for an RDD-backed frame)
    is collected only when ``max_rows`` bounds it: at most
    ``max_rows + 1`` rows come back (CollectLimit short-circuits), and
    more than ``max_rows`` returns None. Each None is counted as
    ``append.arrowSkip`` and ``append.arrowSkip.<reason>``:
    ``batch_size`` (over ``max_bytes``) or ``unknown_size`` (unknown
    estimate, not bounded to the limit)."""
    from .relation_cache import local_plan_arrow

    with REGISTRY.timer(timer):
        tbl = local_plan_arrow(df)
        if tbl is None:
            est = known_size(df)
            if max_bytes is None or (est is not None and est <= max_bytes):
                small = est is not None and est <= EVAL_COALESCE_MAX_BYTES
                tbl = (df.coalesce(4) if small else df).toArrow()
            elif est is not None:
                return _fallback("append.arrowSkip", "batch_size")
            elif max_rows is None:
                return _fallback("append.arrowSkip", "unknown_size")
            else:
                tbl = df.limit(max_rows + 1).toArrow()
                if tbl.num_rows > max_rows:
                    return _fallback("append.arrowSkip", "unknown_size")
    if max_bytes is not None and tbl.nbytes > max_bytes:
        # one huge file helps nobody
        return _fallback("append.arrowSkip", "batch_size")
    return tbl


def _buffer_schema(manifest: Manifest):
    """Arrow schema of the rows an append commits to ``manifest``'s
    table (``LakeWriter._prepare_insert``'s output): the physical
    column types under logical names, ``_inserted_at``, then derived
    partition columns — what an inline blob holds."""
    from pyspark.sql.pandas.types import to_arrow_schema

    derived = [
        T.StructField(e.output_name, T.IntegerType(), True)
        for e in manifest.partition_exprs
        if e.is_derived
    ]
    st = T.StructType(to_physical_schema(manifest.schema).fields + derived)
    return to_arrow_schema(st, timestamp_utc=True)


def _fallback(counter: str, reason: str) -> None:
    """Count a named decline of a driver-side Arrow executor as
    ``counter`` and ``counter.<reason>``: ``merge.arrowFallback`` (the
    pruning executor re-runs the merge), ``append.arrowFallback``
    (Spark writes the evaluated rows) or ``append.arrowSkip`` (Spark
    writes a batch the driver did not take); returns None."""
    REGISTRY.inc(counter)
    REGISTRY.inc(f"{counter}.{reason}")


def _align_arrow(tbl, schema):
    """``tbl`` on ``schema`` (the merge's evolved physical schema): a
    column it lacks — a file written before an ADD COLUMN — becomes
    typed NULLs, a narrower one (written before a widening) is cast up,
    and a column ``schema`` does not name is ignored, as the Spark read
    of the same file does. A table already on ``schema`` is returned
    as is."""
    import pyarrow as pa

    if tbl.schema.equals(schema):
        return tbl
    names = set(tbl.column_names)
    return pa.table(
        [
            tbl.column(f.name).cast(f.type)
            if f.name in names
            else pa.nulls(tbl.num_rows, f.type)
            for f in schema
        ],
        schema=schema,
    )


def _table_bytes(manifest: Manifest) -> int:
    """The table's file bytes from the manifest; a file without a
    ``__bytes`` stat counts as ARROW_MERGE_MAX_BYTES."""
    return sum(
        int(
            (manifest.file_stats.get(f) or {}).get("__bytes")
            or ARROW_MERGE_MAX_BYTES
        )
        for f in manifest.all_files()
    )


def _arrow_merge_skip(manifest: Manifest) -> str | None:
    """Manifest-only half of the copy-on-write executor choice, checked
    before the batch is evaluated: the reason this merge cannot run on
    the driver-side Arrow executor (``LakeWriter._merge_arrow``), or
    None if it may. Schema evolution is not a reason: the executor
    aligns every target table to the evolved schema."""
    from .mor import mor_state

    if _table_bytes(manifest) > ARROW_MERGE_MAX_BYTES:
        return "table_size"
    if mor_state(manifest)[1]:
        # the Arrow executor reads files raw — live tombstones need
        # the visibility-applying read of the pruning executor
        return "mor_state"
    return None


def arrow_merge_over_cap(manifest: Manifest, batch_bytes: int | None) -> bool:
    """True when a batch of ``batch_bytes`` (None: unknown) and the
    table's bytes together exceed ARROW_MERGE_MAX_BYTES — the bound
    on what the Arrow merge, or ingest on its behalf, collects to the
    driver. Checked on the optimizer's estimate before any job (an
    unknown estimate is collected and checked after)."""
    return (
        batch_bytes is not None
        and _table_bytes(manifest) + batch_bytes > ARROW_MERGE_MAX_BYTES
    )


def _qcol(name: str) -> Column:
    """Column ref that resolves ``name`` literally — schemaless field
    names may contain dots that select()/selectExpr() would misparse as
    nested traversal (B11 identifier handling)."""
    return F.col("`" + name.replace("`", "``") + "`")


def _logical_schema_of(df: DataFrame) -> T.StructType:
    return T.StructType([f for f in df.schema.fields if f.name != INSERTED_AT])


def _bt(name: str) -> str:
    """Backtick-quote an identifier for selectExpr."""
    return "`" + name.replace("`", "``") + "`"


def column_defaults(manifest) -> "dict[str, str]":
    """``{col: SQL default expr}`` from ``default.<col>`` table
    properties (``CREATE TABLE (c T DEFAULT expr)`` / ``ALTER COLUMN c
    SET DEFAULT expr``). Applied where SQL applies defaults: a write
    that OMITS the column entirely; an explicitly-NULL value in a
    present column stays NULL."""
    if manifest is None:
        return {}
    tp = manifest.props.get("tblproperties", {})
    return {
        k[len("default."):]: v
        for k, v in tp.items()
        if k.startswith("default.")
    }


def _conform_exprs(
    df: DataFrame,
    logical: T.StructType,
    extra: Sequence[str] = (),
    defaults: "dict[str, str] | None" = None,
) -> list[str]:
    """SQL expression strings projecting a batch onto the table's
    logical schema in physical form (see _conform). String-built so the
    whole projection is ONE selectExpr/Py4J round trip — building the
    same projection Column-by-Column costs ~1 ms per call on the merge
    hot path."""
    physical = to_physical_schema(logical)
    cols: list[str] = []
    taken: set[str] = set()
    df_cols = set(df.columns)
    schema = None
    for lf, pf in zip(logical.fields, physical.fields):
        if lf.name == INSERTED_AT:
            continue
        taken.add(lf.name)
        q = _bt(lf.name)
        if lf.name not in df_cols:
            d = (defaults or {}).get(lf.name)
            fill = f"({d})" if d is not None else "NULL"
            cols.append(f"CAST({fill} AS {pf.dataType.simpleString()}) AS {q}")
        elif is_complex(lf.dataType):
            if schema is None:
                schema = df.schema
            src_type = schema[lf.name].dataType
            if isinstance(src_type, T.StringType):
                cols.append(q)  # pre-serialized
            else:
                cols.append(f"to_json({q}) AS {q}")
        else:
            cols.append(f"CAST({q} AS {pf.dataType.simpleString()}) AS {q}")
    for name in extra:
        if name in df_cols and name not in taken:
            taken.add(name)
            cols.append(_bt(name))
    return cols


def _conform(
    df: DataFrame,
    logical: T.StructType,
    extra: Sequence[str] = (),
    defaults: "dict[str, str] | None" = None,
) -> DataFrame:
    """Project a batch onto the table's logical schema in physical form:
    missing columns default- or null-filled (B1), complex columns
    serialized to JSON (B9), scalars cast to the (possibly widened)
    table type. ``extra`` columns (system / partition columns) pass
    through untouched. ``defaults`` applies ONLY on incoming-batch
    conforms — existing-row rewrites (merge target, dead rows) must
    not mutate stored NULLs into defaults."""
    return df.selectExpr(*_conform_exprs(df, logical, extra, defaults))


def _overlaps(stats, bounds, pk0: str) -> bool:
    """Can a file whose per-column stats are ``stats`` contain any key in
    bounds? Conservative: missing/uncomparable stats → True; an empty
    source key range → False (nothing can match). A None upper bound
    (truncated string stat) is unbounded above."""
    if bounds["lo"] is None:
        return False
    rng = (stats or {}).get(pk0)
    if not rng:
        return True
    try:
        lo, hi = rng[0], rng[1]
        if hi is not None and hi < bounds["lo"]:
            return False
        if lo is not None and lo > bounds["hi"]:
            return False
        return True
    except TypeError:
        return True


def _dedup_last_wins(df: DataFrame, pk: Sequence[str], order_col: str | None) -> DataFrame:
    """Collapse in-batch duplicate keys to the last write (SURVEY risk #2:
    DuckDB MERGE applies last-write; a multi-match would also break the
    join-based merge). The window groups NULL keys together, so NULL
    keys collapse too."""
    from pyspark.sql import Window as W

    order = F.col(order_col) if order_col else F.monotonically_increasing_id()
    if order_col is None:
        df = df.withColumn("__order", F.monotonically_increasing_id())
        order = F.col("__order")
    w = W.partitionBy(*[F.col(c) for c in pk]).orderBy(order.desc())
    out = df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")
    if order_col is None:
        out = out.drop("__order")
    return out


class LakeWriter:
    """Per-table writer — create/evolve + merge-vs-insert routing."""

    def __init__(
        self,
        table: LakeTable,
        pk: Sequence[str] | None = None,
        partition_by: str | list[str] | None = None,
        auto_create: bool = True,
        auto_compact: bool = True,
        check_constraints: dict[str, str] | None = None,
        max_retry_count: int = 10,
        merge_mode: str | None = None,
    ):
        self.table = table
        self.pk = list(pk or [])
        # merge strategy: explicit arg > tblproperties['write.merge.mode']
        # > copy-on-write. 'merge-on-read' commits delta + tombstone
        # files instead of rewriting matched files (lake/mor.py).
        self.merge_mode = merge_mode
        self.partition_by = partition_by
        self.auto_create = auto_create
        self.auto_compact = auto_compact
        # commit-conflict replan budget under concurrent writers — the
        # reference's ducklake.max_retry_count (DucklakeSinkConfig.java:164,
        # default 10, "increase for high-concurrency deployments")
        self.max_retry_count = int(max_retry_count)
        # Delta-style CHECK constraints: {name: sql_predicate}. Every
        # incoming batch is validated BEFORE any file is written; a
        # violating batch rejects the whole commit (ConstraintViolation
        # with per-constraint counts). One extra aggregate job per write
        # when configured; zero cost otherwise.
        self.check_constraints = dict(check_constraints or {})
        # idempotent-commit marker for the in-flight write (set by the
        # public API's txn= parameter, folded into manifest props at
        # commit time — Delta txnAppId/txnVersion analogue)
        self._txn: tuple[str, int] | None = None
        # extra manifest props folded into the NEXT commit(s) — the
        # materialized-view layer rides its base-version watermark here
        # so data + marker land in ONE atomic commit (lake/matview.py)
        self.extra_commit_props: dict = {}

    # ---------- public API ----------

    _NEXTVAL_DEFAULT = re.compile(
        r"nextval\s*\(\s*'([^']+)'\s*\)", re.IGNORECASE
    )

    def _apply_sequence_defaults(self, df: DataFrame, manifest) -> DataFrame:
        """Fill omitted columns whose stored DEFAULT is
        ``nextval('seq')`` (DuckDB's auto-increment idiom) with freshly
        allocated sequence values. Must run BEFORE constraint
        enforcement and the conform projection — neither can evaluate
        nextval as a Spark expression. One block CAS per batch per
        sequence (``lake/sequence.py``); assignment is per-partition
        arithmetic, no shuffle. Costs one extra lightweight count job,
        only on tables that actually store a sequence default."""
        if manifest is None:
            return df
        from . import sequence as _seq

        todo = [
            (col, m.group(1))
            for col, d in column_defaults(manifest).items()
            if col not in df.columns
            and (m := self._NEXTVAL_DEFAULT.fullmatch(d.strip()))
        ]
        if not todo:
            return df
        fs, root = self.table.fs, self.table.root
        counts = _seq.partition_counts(df)
        total = sum(counts)
        for col, name in todo:
            st = _seq.sequence_state(fs, root, name)
            if total == 0:
                df = df.withColumn(col, F.lit(None).cast("long"))
                continue
            lo = _seq.allocate(fs, root, name, total)
            df = _seq.attach_sequence(df, col, lo, st["increment"], counts)
        return df

    def _enforce_constraints(self, df: DataFrame, m: Manifest | None) -> None:
        """Reject the batch if any CHECK constraint is violated. One
        aggregate job computes every constraint's violation count at
        once. A row violates only when the predicate evaluates FALSE;
        NULL/UNKNOWN passes — standard SQL CHECK (and Delta Lake)
        semantics, where a constraint rejects only rows that provably
        break it. The evaluation frame mirrors what the conform will
        LAND, not what the batch carries: schema columns missing from
        the batch extend lazily as their DEFAULT expression (when one
        is stored) or a typed NULL — so a CHECK over an omitted column
        evaluates exactly as it would post-write (usually UNKNOWN →
        pass), a stored NOT NULL over an omitted defaultless column
        rejects every row, and a zero-row frame (the live subset of a
        delete-only tombstone batch) passes everything. User-supplied
        ``check_constraints`` naming columns outside the table schema
        still fail analysis, surfaced as-is.

        Table-STORED constraints (``ALTER TABLE ... ADD CONSTRAINT``,
        persisted as ``constraint.<name>`` TBLPROPERTIES) are enforced
        here too — every writer sees them, not just the one constructed
        with ``check_constraints=`` (Delta's contract). ADD/DROP
        CONSTRAINT take effect on live writers immediately because the
        props come off the manifest the write is planned against.
        Stored NOT NULL (``notnull.<col>``) enforces strictly in the
        same single aggregate.

        ``m`` is the write path's ALREADY-RESOLVED manifest, so
        constraint lookup costs zero extra metadata reads (at 100 TB a
        manifest is O(files) big; a second chain resolve per 10k-row CDC
        batch is real money). ``None`` means the table is known to not
        exist (no stored constraints possible)."""
        checks = dict(self.check_constraints)
        stored = dict(m.props.get("tblproperties", {})) if m else {}
        for k, v in stored.items():
            if k.startswith("constraint."):
                checks.setdefault(k[len("constraint."):], v)
            elif k.startswith("notnull."):
                col = k[len("notnull."):]
                checks[f"notnull_{col}"] = f"`{col}` IS NOT NULL"
        if not checks:
            return
        # constraints run BEFORE the conform projection, so the
        # evaluation frame extends (lazily — same single aggregate, no
        # extra job) to what the conform will land: omitted columns fill
        # with their DEFAULT when stored, else a typed NULL off the
        # table schema
        fill = {}
        for f in m.schema.fields if m else ():
            if f.name == INSERTED_AT or f.name in df.columns:
                continue
            d = stored.get(f"default.{f.name}")
            fill[f.name] = (
                F.expr(d).cast(f.dataType)
                if d is not None
                else F.lit(None).cast(f.dataType)
            )
        if fill:
            df = df.withColumns(fill)
        aggs = [
            F.sum(
                F.when(F.coalesce(F.expr(pred), F.lit(True)), 0).otherwise(1)
            ).alias(name)
            for name, pred in checks.items()
        ]
        row = df.agg(*aggs).collect()[0]
        bad = {n: int(row[n]) for n in checks if row[n]}
        if bad:
            raise ConstraintViolation(
                f"batch violates CHECK constraint(s) on {self.table.name}: "
                + ", ".join(
                    f"{n} ({c} row(s), predicate: {checks[n]!r})"
                    for n, c in bad.items()
                )
            )

    def txn_applied(
        self, txn: tuple[str, int] | None, manifest: Manifest | None = None
    ) -> bool:
        """True iff an idempotent-commit marker (app_id, epoch) is
        already recorded at or past ``epoch`` — i.e. this micro-batch
        landed in a previous run and must not be written again.

        Exactly-once upgrade for foreachBatch (SURVEY §2 E8): Spark
        re-delivers a batch whose write finished but whose checkpoint
        advance did not; MERGE absorbs the replay per key, but APPEND
        tables would duplicate. The marker travels in manifest props
        (whole through delta segments), so the check is one driver-side
        dict lookup. Single-writer-per-table deployment assumption as
        documented in SCALE.md — the marker is re-checked nowhere else.
        ``manifest``, when given, is the caller's resolve of the table."""
        if txn is None:
            return False
        if manifest is None:
            if not self.table.exists():
                return False
            manifest = self.table.manifest()
        app, epoch = txn
        last = manifest.props.get("txns", {}).get(app)
        return last is not None and int(last) >= int(epoch)

    def write(
        self,
        df: DataFrame,
        order_col: str | None = None,
        txn: tuple[str, int] | None = None,
        manifest: Manifest | None = None,
    ) -> None:
        """Reference routing (DucklakeWriter.java:85-96): MERGE when PKs
        are configured and the table pre-existed, else plain INSERT.
        ``txn=(app_id, epoch)`` makes the write idempotent: a replayed
        epoch is skipped entirely (see :meth:`txn_applied`).
        ``manifest`` is the caller's resolve of the existing table: the
        txn check and the merge plan read it instead of resolving again
        (a commit that lands after it replans under the table lock, as
        for any merge)."""
        if self.txn_applied(txn, manifest):
            return
        self._txn = txn
        try:
            pre_existed = manifest is not None or self.table.exists()
            if self.pk and pre_existed:
                self.merge(df, order_col=order_col, manifest=manifest)
            else:
                self.append(df)
        finally:
            self._txn = None

    def write_many(
        self,
        dfs: Sequence[DataFrame],
        order_col: str | None = None,
        txn: tuple[str, int] | None = None,
        manifest: Manifest | None = None,
    ) -> None:
        """Group-commit form of :meth:`write`: N batches → one commit.
        Routing mirrors write(); merge order is batch-sequential (later
        batches win per key). Falls back to sequential writes when the
        batches can't union (cross-batch type promotion goes through the
        schema ladder one merge at a time). ``txn`` and ``manifest`` as
        in write() — the whole group is one epoch, skipped wholesale on
        replay."""
        dfs = [d for d in dfs if d is not None]
        if not dfs:
            return
        if self.txn_applied(txn, manifest):
            return
        if len(dfs) == 1:
            return self.write(dfs[0], order_col=order_col, txn=txn, manifest=manifest)
        pre_existed = manifest is not None or self.table.exists()
        try:
            if self.pk:
                if not pre_existed:
                    # reference routing: the creating write is an append,
                    # every later batch merges (write()'s exact sequence).
                    # The txn marker goes on the group's FINAL commit
                    # only — a replay after a partial group re-routes the
                    # creating batch through the idempotent PK merge.
                    self.write(dfs[0], order_col=order_col)
                    dfs = dfs[1:]
                self._txn = txn
                self.merge_many(dfs, order_col=order_col, manifest=manifest)
            else:
                u = dfs[0]
                for d in dfs[1:]:
                    u = u.unionByName(d, allowMissingColumns=True)
                self._txn = txn
                self.append(u)
        except Exception as e:
            # unionByName raises eagerly (before any write/commit) on
            # incompatible column types — replay batch-at-a-time so the
            # promotion ladder can widen the schema between merges
            if type(e).__name__ != "AnalysisException":
                raise
            self._txn = None
            for d in dfs[:-1]:
                self.write(d, order_col=order_col)
            self.write(dfs[-1], order_col=order_col, txn=txn)
        finally:
            self._txn = None

    def flush_inlined(self) -> int:
        """``ducklake_flush_inlined_data()`` parity: materialize the
        pending inline buffer into real parquet files (one commit) and
        empty it. Returns the number of rows flushed (0 = no-op)."""
        from .inline import inline_state

        if not self.table.exists():
            return 0
        with self.table.lock():
            manifest = self.table.manifest()
            blobs, pending = inline_state(manifest)
            if not blobs:
                return 0
            self._append_locked(manifest)
            return pending

    def delete_where(self, predicate: str) -> None:
        """Predicate DELETE (``DELETE FROM t WHERE p``): only files whose
        stats admit a match are rewritten with the surviving rows;
        everything else carries its immutable files into the next
        snapshot. Same manifest-prune machinery as MERGE — at scale this
        touches exactly the partitions/files the predicate can reach.
        (The reference has no DELETE; CDC-style per-key deletes go
        through merge(tombstone_col=...) instead.)

        Under ``write.merge.mode=merge-on-read`` the delete commits only
        a PK tombstone file for the matching VISIBLE rows — no file is
        rewritten (lake/mor.py); OPTIMIZE materializes later."""
        from .inline import inline_state
        from .mor import MODE_MOR, resolve_merge_mode

        with REGISTRY.timer("deleteWhere"), self.table.lock():
            manifest = self.table.manifest()
            if inline_state(manifest)[0]:
                # planning below is file-based: pending inlined rows
                # must become file rows first (lake/inline.py)
                self._append_locked(manifest)
                manifest = self.table.manifest()
            affected, _ = self.table.prune_files(predicate, manifest=manifest)
            if not affected:
                return
            if self.pk and resolve_merge_mode(manifest, self.merge_mode) == MODE_MOR:
                self._delete_where_mor(manifest, affected, predicate)
                return
            survivors = self._read_files(manifest, affected).filter(
                f"NOT ({predicate}) OR ({predicate}) IS NULL"
            )
            new_files, new_stats = self.table.write_data_files(
                survivors, manifest.version + 1,
                layout=self._rewrite_layout(manifest, affected),
                manifest=manifest,
            )
            self.table._commit(
                manifest.successor(
                    "DELETE",
                    **manifest.replace_files(affected, new_files, new_stats),
                ),
                parent_manifest=manifest,
            )

    def _delete_where_mor(
        self, manifest: Manifest, affected: list[str], predicate: str
    ) -> None:
        """Tombstone-only DELETE (caller holds the table lock): the pks
        of visible rows matching ``predicate`` inside the pruned file
        set become one tombstone file; data files are untouched."""
        from .mor import mor_state, write_tombstones

        keys = (
            self._read_files(manifest, affected)
            .filter(predicate)
            .select(*self.pk)
            .distinct()
        )
        v = manifest.version + 1
        tomb_rel, meta = write_tombstones(self.table, keys, manifest, v)
        if meta["rows"] == 0:
            # stats admitted a match but no row actually matched: drop
            # the staged empty tombstone, commit nothing
            self.table.fs.delete(
                os.path.join(self.table.dir, tomb_rel), missing_ok=True
            )
            return
        seq_map, deletes = mor_state(manifest)
        deletes = {**deletes, tomb_rel: meta}
        self.table._commit(
            manifest.successor(
                "DELETE(MOR)",
                props={**manifest.props, "mor": {"seq": seq_map, "deletes": deletes}},
            ),
            parent_manifest=manifest,
        )

    def update_where(self, predicate: str, assignments: dict[str, str]) -> None:
        """Predicate UPDATE (``UPDATE t SET c = expr WHERE p``): files
        whose stats admit a match are rewritten with SET expressions
        applied to matching rows; non-matching rows and untouched files
        pass through byte-identical. PK columns cannot be assigned —
        rewriting keys inside a subset of files could create duplicate
        PKs against rows in files the predicate never touched (use
        merge()/delete for key changes). Same prune machinery as
        delete_where: cost ∝ files the predicate can reach."""
        bad = [c for c in assignments if c in (self.pk or [])]
        if bad:
            raise ValueError(f"update_where cannot assign PK column(s) {bad}")
        from .inline import inline_state

        with REGISTRY.timer("updateWhere"), self.table.lock():
            manifest = self.table.manifest()
            if inline_state(manifest)[0]:
                # planning below is file-based: pending inlined rows
                # must become file rows first (lake/inline.py)
                self._append_locked(manifest)
                manifest = self.table.manifest()
            # partition source/output columns are immutable under UPDATE:
            # moving a row between partition dirs is a merge-shaped
            # operation (delete + reinsert), not an in-place file rewrite
            part_cols = {
                c
                for e in manifest.partition_exprs
                for c in (e.column, e.output_name)
            }
            bad = [c for c in assignments if c in part_cols]
            if bad:
                raise ValueError(
                    f"update_where cannot assign partition column(s) {bad}"
                )
            unknown = [
                c
                for c in assignments
                if c not in manifest.schema.fieldNames()
            ]
            if unknown:
                raise ValueError(f"update_where: unknown column(s) {unknown}")
            affected, _ = self.table.prune_files(predicate, manifest=manifest)
            if not affected:
                return
            from .mor import MODE_MOR, resolve_merge_mode

            if self.pk and resolve_merge_mode(manifest, self.merge_mode) == MODE_MOR:
                self._update_where_mor(manifest, affected, predicate, assignments)
                return
            src = self._read_files(manifest, affected)
            cond = F.expr(predicate)
            rewritten = src.select(
                *[
                    F.when(cond, F.expr(assignments[c]).cast(src.schema[c].dataType))
                    .otherwise(F.col(c))
                    .alias(c)
                    if c in assignments
                    else F.col(c)
                    for c in src.columns
                ]
            )
            # SET expressions must not commit rows that append()/merge()
            # would have rejected — validate the rewritten rows against
            # the table's CHECK constraints before any file is written.
            self._enforce_constraints(rewritten, manifest)
            new_files, new_stats = self.table.write_data_files(
                rewritten, manifest.version + 1,
                layout=self._rewrite_layout(manifest, affected),
                manifest=manifest,
            )
            self.table._commit(
                manifest.successor(
                    "UPDATE",
                    **manifest.replace_files(affected, new_files, new_stats),
                ),
                parent_manifest=manifest,
            )

    def _update_where_mor(
        self,
        manifest: Manifest,
        affected: list[str],
        predicate: str,
        assignments: dict[str, str],
    ) -> None:
        """Merge-on-read UPDATE (caller holds the table lock): the
        visible rows matching ``predicate`` are re-emitted with SET
        expressions applied as a DELTA file, their pks as a TOMBSTONE —
        cost O(matched rows), no file rewritten. The delta and tombstone
        share one seq, so the delta is never self-suppressed."""
        from .mor import mor_state, write_tombstones

        src = self._read_files(manifest, affected).filter(predicate)
        delta = src.select(
            *[
                F.expr(assignments[c]).cast(src.schema[c].dataType).alias(c)
                if c in assignments
                else F.col(c)
                for c in src.columns
            ]
        )
        self._enforce_constraints(delta, manifest)
        v = manifest.version + 1
        new_files, new_stats = self.table.write_data_files(
            # the delta is a filtered sliver of the affected files —
            # 'natural' emitted one near-empty file per scan task
            delta, v, layout=self._rewrite_layout(manifest, affected),
            manifest=manifest,
        )
        n_rows = sum(int(s.get("__rows") or 0) for s in new_stats.values())
        if n_rows == 0:
            for k, paths in new_files.items():
                for f in paths:
                    self.table.fs.delete(
                        os.path.join(self.table.dir, f), missing_ok=True
                    )
            return
        tomb_rel, meta = write_tombstones(
            self.table, src.select(*self.pk).distinct(), manifest, v
        )
        seq_map, deletes = mor_state(manifest)
        for paths in new_files.values():
            for f in paths:
                seq_map[f] = v
        deletes = {**deletes, tomb_rel: meta}
        self.table._commit(
            manifest.successor(
                "UPDATE(MOR)",
                props={**manifest.props, "mor": {"seq": seq_map, "deletes": deletes}},
                **manifest.replace_files((), new_files, new_stats),
            ),
            parent_manifest=manifest,
        )

    def append(self, df: DataFrame, txn: tuple[str, int] | None = None) -> None:
        self._append(df, txn)

    def overwrite(self, df: DataFrame, txn: tuple[str, int] | None = None) -> None:
        """INSERT OVERWRITE: ONE commit whose file set is exactly this
        batch's files — an atomic replace (a reader sees the old content
        or the new, never an empty in-between, unlike truncate+insert),
        with full history preserved for time travel. Schema evolution
        applies the same as append (the batch's schema conforms/widens
        the manifest's)."""
        self._append(df, txn, overwrite=True)

    # Appends whose batch is at or below this many bytes (the optimizer
    # estimate, or the Arrow size of a folded local batch) are evaluated
    # on the driver and written there; larger ones take the Spark write.
    ARROW_APPEND_MAX_BYTES = 16 * 1024 * 1024

    def _append(self, df: DataFrame, txn=None, overwrite: bool = False) -> None:
        """Body of :meth:`append` and :meth:`overwrite` (``txn`` as in
        :meth:`write`): plan against one manifest resolve (enforcement
        reuses it), evaluate a small batch on the driver once
        (:func:`_eval_arrow`), then commit under the table lock in the
        shape :meth:`_append_locked` picks."""
        from .inline import table_inline_limit

        if self.txn_applied(txn):
            return
        if txn is not None:
            self._txn = txn
        try:
            with REGISTRY.timer("insertOverwrite" if overwrite else "simpleInsert"):
                if self.table.exists():
                    manifest = self.table.manifest()
                    df = self._apply_sequence_defaults(df, manifest)
                    self._enforce_constraints(df, manifest)
                else:
                    # a violating first batch rejects BEFORE auto-create
                    # (no stored constraints can exist then)
                    self._enforce_constraints(df, None)
                    manifest = self._ensure_table(df)
                out = self._prepare_insert(df, manifest)
                # an unknown estimate is probed up to the inline limit: a
                # batch that fits it is an inline commit's whole input
                try:
                    batch = _eval_arrow(
                        out, "append.arrowBatchEval", self.ARROW_APPEND_MAX_BYTES,
                        table_inline_limit(manifest),
                    )
                except Exception:
                    _fallback("append.arrowFallback", "error")
                    batch = None  # Spark writes `out`
                with self.table.lock():
                    # re-resolve only if a commit landed since planning
                    if self._chain_advanced(manifest.version):
                        manifest = self.table.manifest()
                    nm = self._append_locked(manifest, df, out, batch, overwrite)
        finally:
            if txn is not None:
                self._txn = None
        # post-commit, like every write: a compaction failure propagates
        self._maybe_auto_compact(nm)

    def _append_locked(
        self,
        tip: Manifest,
        df: DataFrame | None = None,
        out: DataFrame | None = None,
        batch=None,
        overwrite: bool = False,
    ) -> Manifest:
        """Commit an append on ``tip`` (caller holds the table lock) in
        the one shape it fits, and return the committed manifest:

        - an inline blob (``INSERT_INLINE``), when the table opted in
          (``write.inlining.row.limit``) and buffer + batch fit the limit;
        - driver-written Arrow files of the evaluated ``batch`` — with
          the pending buffer prepended when the batch fits the limit but
          overflows the buffer (``FLUSH_INLINED``, buffer emptied);
        - Spark-written files of ``out``, when the batch was over the
          cap (``batch`` None). Arrow-held rows whose driver write fails
          are written by Spark too, a counted
          ``append.arrowFallback.error``.

        ``df`` None flushes the buffer alone (:meth:`flush_inlined` and
        the flush-first rewrites); that commit carries neither the txn
        marker nor ``extra_commit_props``, which belong to the write
        that follows it. ``overwrite`` replaces every file and drops the
        buffer. The batch's schema is planned again against ``tip``, so
        a RENAME COLUMN that landed since planning is refused like one
        that landed before (:func:`_logical_schema_of_batch`)."""
        import contextlib

        import pyarrow as pa
        from pyspark.sql.pandas.types import from_arrow_schema

        from .inline import buffer_table, encode_table, inline_state, table_inline_limit
        from .table import _bloom_column, _stats_columns

        blobs, pending = inline_state(tip)
        limit = table_inline_limit(tip)
        n = batch.num_rows if batch is not None else 0
        schema = _logical_schema_of_batch(df, tip) if df is not None else None
        fits = not overwrite and limit is not None and 0 < n <= limit
        if fits and pending + n <= limit:
            with REGISTRY.timer("append.inlineCommit"):
                return self._commit_next(
                    tip, "INSERT_INLINE", schema,
                    {"inlined": {"ipc": blobs + [encode_table(batch)],
                                 "rows": pending + n}},
                )
        op = "INSERT_OVERWRITE" if overwrite else "INSERT"
        rows = batch
        flush = bool(blobs) and (df is None or fits)
        if flush:
            op = "FLUSH_INLINED"
            if batch is None:
                rows = buffer_table(tip, _buffer_schema(tip))
            else:
                rows = pa.concat_tables([buffer_table(tip, batch.schema), batch])
        new_files = None
        with REGISTRY.timer("append.inlineFlush") if flush else contextlib.nullcontext():
            if rows is not None:
                try:
                    groups = dir_groups(rows, tip.partition_exprs, tip.files)
                    parts = {k: [t] for k, t in groups.items()}
                    st = from_arrow_schema(rows.schema)
                    with REGISTRY.timer("append.arrowWrite"):
                        new_files, new_stats = self._staged(
                            tip, _stats_columns(st, tip.pk), _bloom_column(st, tip.pk)
                        ).write(parts)
                except Exception:
                    _fallback("append.arrowFallback", "error")
            if new_files is None:
                frame = out if rows is None else self.table.spark.createDataFrame(rows)
                new_files, new_stats = self.table.write_data_files(
                    frame, tip.version + 1, layout="rebalance", manifest=tip,
                )
            files = tip.replace_files(
                tip.all_files() if overwrite else (), new_files, new_stats
            )
            # OVERWRITE replaces the table's whole content: a pending
            # buffer is part of that content and empties (no flush)
            extra = {"inlined": {}} if flush or overwrite else {}
            if df is None:
                nm = tip.successor(op, props={**tip.props, **extra}, **files)
                self.table._commit(nm, parent_manifest=tip)
                return nm
            return self._commit_next(tip, op, schema, extra, **files)

    def _staged(self, manifest: Manifest, stat_cols, bloom_col) -> StagedFiles:
        """The Arrow writer of the files ``manifest``'s successor adds,
        staged under ``data/s<next version>-<uuid>/``."""
        import uuid

        stage = os.path.join("data", f"s{manifest.version + 1}-{uuid.uuid4().hex[:8]}")
        return StagedFiles(
            self.table.dir, stage, manifest.props.get("tblproperties", {}),
            manifest.column_renames, stat_cols, bloom_col,
        )

    def _maybe_auto_compact(self, m: Manifest) -> None:
        """Post-commit trigger (runs OUTSIDE the table lock — compact
        takes it afresh, so a concurrent writer just wins the race and
        the next commit re-triggers). The check is driver-side over the
        committed manifest in hand: zero I/O unless it fires."""
        if not self.auto_compact:
            return
        for v in m.files.values():
            small = sum(
                1
                for f in v
                if int((m.file_stats.get(f) or {}).get("__bytes") or 0)
                < AUTO_COMPACT_SMALL_BYTES
            )
            if small > AUTO_COMPACT_MIN_FILES:
                from .maintenance import compact

                with REGISTRY.timer("autoCompact"):
                    compact(
                        self.table,
                        max_files_per_partition=AUTO_COMPACT_MIN_FILES,
                        small_file_bytes=AUTO_COMPACT_SMALL_BYTES,
                    )
                return

    def merge(
        self,
        df: DataFrame,
        order_col: str | None = None,
        tombstone_col: str | None = None,
        manifest: Manifest | None = None,
    ) -> None:
        """Upsert ``df`` by PK. With ``tombstone_col`` (boolean), rows
        flagged true DELETE their key instead — the CDC extension the
        reference lacks (SURVEY §2.G: null-valued records are not
        deletes there). Tombstones participate in last-write-wins
        ordering, so delete-then-reinsert within a batch resolves by
        ``order_col``. ``manifest`` as in :meth:`write`."""
        with REGISTRY.timer("upsertWithMergeInto"):
            self._merge(df, order_col, tombstone_col, manifest=manifest)

    def merge_many(
        self,
        batches: Sequence[DataFrame],
        order_col: str | None = None,
        tombstone_col: str | None = None,
        manifest: Manifest | None = None,
    ) -> None:
        """Group commit: apply N queued micro-batches as ONE merge — one
        planning pass, one write job, one commit — amortizing the fixed
        per-merge overhead (cache materialization, planning collect,
        write-job scheduling, commit) that dominates small-batch MERGE
        latency. Equivalent to merging the batches sequentially: a later
        batch beats an earlier one on the same key, and within a batch
        last-write-wins by ``order_col`` / arrival — enforced by an
        ephemeral ``struct(batch_ordinal, order)`` column that rides the
        merge but never enters the table schema. Batches must be
        column-type-compatible (unionByName null-fills missing columns;
        cross-batch type promotion should go through separate merges).
        ``manifest`` as in :meth:`write`."""
        batches = [b for b in batches if b is not None]
        if not batches:
            return
        if len(batches) == 1 and order_col is not None:
            # single batch: the plain path needs no ephemeral ordinal
            with REGISTRY.timer("upsertWithMergeInto"):
                self._merge(batches[0], order_col, tombstone_col, manifest=manifest)
            return
        with REGISTRY.timer("upsertWithMergeInto"):
            tagged = []
            for i, b in enumerate(batches):
                inner = (
                    F.col(order_col)
                    if order_col
                    else F.monotonically_increasing_id()
                )
                tagged.append(
                    b.withColumn(
                        EPHEMERAL_ORDER,
                        F.struct(F.lit(i).alias("s"), inner.alias("o")),
                    )
                )
            u = tagged[0]
            for t in tagged[1:]:
                u = u.unionByName(t, allowMissingColumns=True)
            self._merge(
                u,
                order_col=EPHEMERAL_ORDER,
                tombstone_col=tombstone_col,
                ephemeral_order=True,
                manifest=manifest,
            )

    def _chain_advanced(self, planned_version: int) -> bool:
        """Stale-plan check under the table lock: has the chain moved
        past the manifest this write planned against?

        Compares the PHYSICAL tip first (cheap pointer/LIST read — the
        common path). When they differ, the tip may merely be held by a
        foreign open transaction (lake/txn.py) whose versions are
        invisible — replanning would spin forever because the VISIBLE
        manifest never advances; in that case report not-stale and let
        the commit CAS raise TxnInProgress with the remedy instead."""
        if self.table.current_version() == planned_version:
            return False
        return self.table.visible_version() != planned_version

    def _merge(
        self,
        df: DataFrame,
        order_col: str | None = None,
        tombstone_col: str | None = None,
        ephemeral_order: bool = False,
        manifest: Manifest | None = None,
    ) -> None:
        if not self.pk:
            raise ValueError(f"merge() on table {self.table.name} requires pk columns")
        from .inline import inline_state

        # one manifest resolve (or the caller's): the pre-lock planning
        # manifest doubles as the constraint source and seeds the FIRST
        # _merge_once attempt (replans after a commit conflict
        # re-resolve, as they must)
        pre = manifest
        if pre is None and self.table.exists():
            pre = self.table.manifest()
        df = self._apply_sequence_defaults(df, pre)
        # tombstoned rows are DELETES — they carry no insertable values,
        # so constraints (incl. NOT NULL) must not judge them: a narrow
        # pk-only delete batch against a NOT NULL table is legitimate
        if tombstone_col and tombstone_col in df.columns:
            self._enforce_constraints(
                df.filter(~F.coalesce(F.col(tombstone_col), F.lit(False))),
                pre,
            )
        else:
            self._enforce_constraints(df, pre)
        # The rewrite set is planned against a manifest read OUTSIDE the
        # table lock; if another commit lands before this merge takes the
        # lock, the planned file list is stale (re-emitting rows a
        # concurrent compaction already rewrote would duplicate them) —
        # so the commit re-checks the version under the lock and replans.
        retries = max(1, self.max_retry_count)
        for attempt in range(retries):
            m = pre if attempt == 0 else self.table.manifest()
            # merge planning is file-based: pending inlined rows must
            # become file rows first or a matching source row would
            # duplicate instead of updating (lake/inline.py) — at the top
            # of EVERY attempt, since an inline append may land before
            # the replan
            if m is not None and inline_state(m)[0]:
                self.flush_inlined()
                m = self.table.manifest()
            if self._merge_once(
                df, order_col, tombstone_col, ephemeral_order, manifest=m
            ):
                return
            REGISTRY.inc("merge.commitConflictReplans")
        raise CommitConflict(
            f"merge on {self.table.name}: manifest advanced during planning "
            f"{retries} times (max_retry_count={self.max_retry_count})"
        )

    def arrow_merge_skip(self, manifest: Manifest) -> str | None:
        """Why a merge into ``manifest`` would not run on the driver-side
        Arrow executor, or None when it runs there first:
        ``merge_on_read`` (this writer or the table merges on read), else
        :func:`_arrow_merge_skip`'s manifest checks. ``_merge_once`` and
        ingest, which evaluates such a table's batch on the driver ahead
        of the merge, read this one predicate."""
        from .mor import MODE_MOR, resolve_merge_mode

        if resolve_merge_mode(manifest, self.merge_mode) == MODE_MOR:
            return "merge_on_read"
        return _arrow_merge_skip(manifest)

    def _plan_merge(
        self, manifest: Manifest, probe: DataFrame, part_cols: list[str]
    ) -> "tuple[int, set, dict]":
        """The ONE planning job of the Spark merge and the file-overlap
        prune it feeds. ``probe`` carries the batch's
        pk[0] as ``__k`` and, when ``part_cols`` is set, a ``__live``
        flag and those columns. A single JVM-side aggregate yields the
        exact row count, pk[0] bounds, a capped key set and the live
        rows' partition-value set (every extra driver-blocking job is
        ~100+ ms of scheduling on a micro-batch; the collect also
        materializes the cache the write job reuses). Then files whose
        footer [min, max] of pk[0] misses the bounds drop out, and, when
        more than one survives, the Bloom sidecars prove which of the
        rest hold a batch key — after interleaved appends every file's
        range overlaps every batch. Returns (rows, {partition tuple},
        {dir key: overlap files})."""
        pk0 = self.pk[0]
        agg_cols = [
            F.count(F.lit(1)).alias("n"),
            F.min("__k").alias("lo"),
            F.max("__k").alias("hi"),
            # slice() caps the transferred array at CAP+1: exactly CAP+1
            # back means overflow → probing is skipped. NULL keys don't
            # collect_set, so they're counted separately — any NULL key
            # disables probing (a sidecar can't prove absence of a key
            # it never hashed in canonical form).
            F.slice(
                F.collect_set("__k"), 1, MERGE_BLOOM_PROBE_KEYS + 1
            ).alias("ks"),
            F.count(F.when(F.col("__k").isNull(), 1)).alias("null_keys"),
        ]
        if part_cols:
            # collect_set skips NULLs, so non-live rows drop out here
            agg_cols.append(
                F.collect_set(
                    F.when(F.col("__live"), F.struct(*part_cols))
                ).alias("parts")
            )
        with REGISTRY.timer("merge.planAgg"):
            row = probe.agg(*agg_cols).collect()[0]
        n_src = row["n"]
        bounds = {"lo": row["lo"], "hi": row["hi"]}
        src_parts = {tuple(p) for p in row["parts"]} if part_cols else set()
        probe_keys = list(row["ks"] or [])
        if row["null_keys"] or len(probe_keys) > MERGE_BLOOM_PROBE_KEYS:
            probe_keys = None  # overflow / NULL key → no bloom probing
        overlap_by_part = {
            k: [f for f in v if _overlaps(manifest.file_stats.get(f), bounds, pk0)]
            for k, v in manifest.files.items()
        }
        flat = [f for v in overlap_by_part.values() for f in v]
        if probe_keys and len(flat) > 1:
            from .bloom import (
                MEMBERSHIP_SPARK_THRESHOLD,
                membership_filter,
                membership_filter_spark,
            )

            with REGISTRY.timer("merge.bloomProbe"):
                # the key set came back with the planning aggregate; large
                # overlap sets probe executor-side so wall time stays flat
                abs_paths = [os.path.join(self.table.dir, f) for f in flat]
                if len(flat) > MEMBERSHIP_SPARK_THRESHOLD:
                    kept = membership_filter_spark(self.table.spark, abs_paths, probe_keys)
                else:
                    kept = membership_filter(abs_paths, probe_keys)
            keep = dict(zip(flat, kept))
            overlap_by_part = {
                k: [f for f in v if keep[f]] for k, v in overlap_by_part.items()
            }
        return n_src, src_parts, overlap_by_part

    def _merge_once(
        self,
        df: DataFrame,
        order_col: str | None,
        tombstone_col: str | None,
        ephemeral_order: bool = False,
        manifest=None,
    ) -> bool:
        """One attempt of a merge against ``manifest``: True once it
        committed, False when a concurrent commit moved the tip (the
        caller replans).

        A copy-on-write merge tries the driver-side Arrow executor
        first. Every other merge runs on Spark behind one prologue: the
        batch is conformed once (the tombstone flag and merge_many's
        ephemeral order ride as extra columns), gains its partition
        columns and is coalesced and cached; ONE planning job runs over
        the cached, un-deduped rows; last-write-wins dedup then runs
        lazily inside the write job, and the live rows split from the
        dead (tombstoned) keys. The pk joins are equi-joins, so a NULL
        key never matches a target row (the reference's ``USING (pk)``),
        while NULL keys within one batch still collapse to its last
        write. The two commit shapes differ only in what they write:

        - copy-on-write: untouched ∪ matched ∪ inserts over the rewrite
          set (the module docstring's plan shape);
        - merge-on-read (``write.merge.mode=merge-on-read``,
          lake/mor.py): the live rows as a DELTA file carrying matched
          keys' ``_inserted_at``, and the matched and dead keys as a
          TOMBSTONE file. No file is rewritten, so write cost is
          O(batch); the only target read is a pk + ``_inserted_at``
          lookup over the pruned overlap files, and a provably
          insert-only batch reads nothing and writes no tombstone."""
        from .mor import MOR_AUTO_MATERIALIZE_DELETES, mor_state, write_tombstones

        # the tombstone flag and ephemeral order never enter the schema
        extra = [c for c in (tombstone_col,) if c]
        if ephemeral_order and order_col:
            extra.append(order_col)
        payload = df.drop(*extra) if extra else df
        if manifest is None:
            manifest = self._ensure_table(payload)
        final_logical = _logical_schema_of_batch(payload, manifest)
        exprs = manifest.partition_exprs
        part_cols = partition_column_names(exprs)
        # ---- executor choice: driver-side Arrow, else Spark ----
        skip = self.arrow_merge_skip(manifest)
        mor = skip == "merge_on_read"
        if skip is None:
            done = self._merge_arrow(
                df, manifest, final_logical, exprs, part_cols,
                order_col, tombstone_col, ephemeral_order,
            )
            if done is not None:
                return done
        elif not mor:
            REGISTRY.inc(f"merge.arrowSkip.{skip}")

        # ---- the one Spark prologue ----
        # Cap the batch's partition count at the session's parallelism:
        # a merge_many union of N micro-batches arrives with N×32 tiny
        # upstream partitions, and every downstream stage would schedule
        # one task per partition (measured 321-task write jobs at ~3 s
        # pure scheduling). A coalesce never adds partitions.
        np_cap = self.table.spark.sparkContext.defaultParallelism
        raw = _conform(
            df, final_logical, extra=extra, defaults=column_defaults(manifest)
        )
        raw = with_partition_columns(raw, exprs).coalesce(np_cap).cache()
        flag = (
            F.coalesce(F.col(tombstone_col), F.lit(False))
            if tombstone_col
            else F.lit(False)
        )
        # The planning job runs straight over the cached batch (no
        # shuffle barrier inside the blocking job): duplicate keys only
        # widen bounds or add partition values, which is conservative.
        # Dead rows add no partition value (their old copies may live
        # anywhere; the overlap probe finds them); merge-on-read rewrites
        # no file and needs no partition value at all.
        probe_parts = [] if mor else part_cols
        probe = raw.select(
            F.col(self.pk[0]).alias("__k"), (~flag).alias("__live"), *probe_parts
        )
        # one row per pk from here on: the dedup window runs lazily
        # inside the write job, where its shuffle overlaps the plan
        src = _dedup_last_wins(raw, self.pk, order_col)
        live = src.filter(~flag) if tombstone_col else src
        dead_keys = src.filter(flag).select(*self.pk) if tombstone_col else None
        out_cols = _out_cols(final_logical, part_cols)
        now = F.current_timestamp()

        try:
            n_src, src_parts, overlap_by_part = self._plan_merge(
                manifest, probe, probe_parts
            )
            overlap = [f for v in overlap_by_part.values() for f in v]
            if mor:
                if n_src == 0:
                    return True  # empty batch: no commit
                rewrite_files = []
                out = live.withColumn(INSERTED_AT, now)
                if overlap:
                    # pk + _inserted_at only: a 2-column pruned scan,
                    # never the row width, and visibility-aware, so a
                    # key whose only copies are tombstoned counts absent
                    ins_lookup = self._read_files(manifest, overlap).select(
                        *self.pk, F.col(INSERTED_AT).alias("__t_ins")
                    )
                    if self._est_rewrite_rows(manifest, overlap) <= MERGE_BROADCAST_ROWS:
                        ins_lookup = F.broadcast(ins_lookup)
                    out = live.join(ins_lookup, on=self.pk, how="left").withColumn(
                        INSERTED_AT, F.coalesce(F.col("__t_ins"), now)
                    )
                    # tombstone only keys that MATCH a visible row (plus
                    # the dead keys): an insert-heavy batch must not
                    # grow the tombstone set every read anti-joins
                    tomb_keys = live.join(
                        ins_lookup, on=self.pk, how="left_semi"
                    ).select(*self.pk)
                    if dead_keys is not None:
                        tomb_keys = tomb_keys.unionByName(dead_keys)
                out = out.select(*[_qcol(c) for c in out_cols])
            else:
                # Micro-batches broadcast (hash-join against only the
                # rewrite files, no shuffle of the table); a bulk
                # backfill above the row threshold would OOM the driver
                # as a broadcast, so it degrades to shuffle joins.
                bcast = F.broadcast if n_src <= MERGE_BROADCAST_ROWS else (lambda d: d)
                src_keys = src.select(*self.pk)  # live and dead keys
                rewrite_files = self._rewrite_files(
                    manifest, src_parts, overlap_by_part, src_keys, bcast
                )
                target = self._read_files(manifest, rewrite_files)
                # Conform the target to the evolved schema too: null-fill
                # added columns, cast widened ones; keep system/partition
                # columns.
                passthrough = [INSERTED_AT] + [
                    c for c in part_cols if c not in final_logical.fieldNames()
                ]
                target = _conform(target, final_logical, extra=passthrough)
                untouched = target.join(bcast(src_keys), on=self.pk, how="left_anti")
                ins_lookup = target.select(*self.pk, INSERTED_AT)
                matched = ins_lookup.join(bcast(live), on=self.pk, how="inner")
                inserts = live.join(
                    bcast(ins_lookup.select(*self.pk)), on=self.pk, how="left_anti"
                ).withColumn(INSERTED_AT, now)
                changed = matched.select(*[_qcol(c) for c in out_cols]).unionByName(
                    inserts.select(*[_qcol(c) for c in out_cols])
                )
            # Output layout from manifest estimates. Rows want MANY
            # narrow-range files (pruning); auto-compact wants FEW sub-8
            # MB files, and fires only past AUTO_COMPACT_MIN_FILES of
            # them per dir, so up to that many range files may go
            # sub-threshold safely.
            est_rows = self._est_rewrite_rows(manifest, rewrite_files) + n_src
            est_bytes = (
                self._est_rewrite_bytes(manifest, rewrite_files)
                + n_src * EST_ROW_BYTES
            )
            n_out = max(
                1, min(MERGE_RANGE_MAX_FILES, _range_file_count(est_rows, est_bytes))
            )
            # range: key-disjoint output files (see write_data_files),
            # so a later merge rewrites only the files its keys overlap
            range_split = {"layout": "range", "range_split": (list(self.pk), n_out)}
            small = est_bytes <= SMALL_OUTPUT_BYTES
            if mor:
                layout = {"layout": "single"} if small else range_split
            else:
                if small:
                    layout = range_split if n_out > 1 else {"layout": "single"}
                elif est_bytes <= MERGE_REBALANCE_MAX_BYTES:
                    layout = {"layout": "rebalance"}  # right-sized files
                else:
                    # The changed side is at most n_src rows, but each
                    # branch inherits its upstream partitioning (one
                    # sliver per rewrite-file scan task and per batch
                    # partition), which the natural layout keeps: only
                    # the changed side is repartitioned to batch-sized
                    # tasks, while the untouched side (the heavy one at
                    # 100 TB) stays unshuffled.
                    layout = {"layout": "natural"}
                    changed = changed.repartition(
                        max(1, -(-(n_src * EST_ROW_BYTES) // SMALL_OUTPUT_BYTES))
                    )
                out = untouched.select(*[_qcol(c) for c in out_cols]).unionByName(
                    changed
                )

            with self.table.lock():
                # cheap tip check (one tiny LATEST read, not a chain
                # resolve): unchanged version ⇒ the planning manifest IS
                # the tip, so reuse it as-is
                if self._chain_advanced(manifest.version):
                    return False  # concurrent commit — replan against it
                v = manifest.version + 1
                new_files, new_stats = self.table.write_data_files(
                    out, v, manifest=manifest, **layout
                )
                if not mor:
                    # keep every file that was not rewritten (including
                    # non-overlapping files inside affected partitions)
                    nm = self._commit_next(
                        manifest, "MERGE", final_logical,
                        **manifest.replace_files(rewrite_files, new_files, new_stats),
                    )
                else:
                    # the commit stamps the delta files with v, so the
                    # tombstone (seq v) never suppresses them
                    seq_map, deletes = mor_state(manifest)
                    if overlap:
                        tomb_rel, tomb_meta = write_tombstones(
                            self.table, tomb_keys, manifest, v
                        )
                        if tomb_meta["rows"] == 0:
                            # no key matched after all (stats and Bloom
                            # are conservative): drop the empty tombstone
                            self.table.fs.delete(
                                os.path.join(self.table.dir, tomb_rel),
                                missing_ok=True,
                            )
                        else:
                            deletes = {**deletes, tomb_rel: tomb_meta}
                    REGISTRY.inc("merge.morCommits")
                    nm = self._commit_next(
                        manifest, "MERGE(MOR)", final_logical,
                        {"mor": {"seq": seq_map, "deletes": deletes}},
                        **manifest.replace_files((), new_files, new_stats),
                    )
        finally:
            raw.unpersist()
        if not mor:
            self._maybe_auto_compact(nm)
        elif self.auto_compact and len(deletes) > MOR_AUTO_MATERIALIZE_DELETES:
            # bound read amplification AND per-commit props metadata:
            # past the threshold the debt materializes (a visibility-
            # applied full rewrite; the tombstones retire at that commit)
            from .maintenance import compact

            with REGISTRY.timer("autoCompact"):
                compact(self.table)
        return True

    def _rewrite_files(
        self,
        manifest: Manifest,
        src_parts: set,
        overlap_by_part: dict,
        src_keys: DataFrame,
        bcast,
    ) -> list[str]:
        """The copy-on-write rewrite set: the overlap files of the
        partitions the batch affects. Both sides of the membership test
        go through ONE canonical encoding (canon_partition_value /
        dir_key_to_canon_tuple): Python str() of a boolean/timestamp/
        escaped value differs from the Hive directory token Spark
        writes, and a raw-string compare would silently skip partitions
        (old rows never rewritten → duplicate keys). Unpartitioned and
        tiny manifests skip partition pruning: probing and rewriting
        every overlap file is cheaper than planning."""
        exprs = manifest.partition_exprs
        part_cols = partition_column_names(exprs)
        n_files_total = sum(len(v) for v in manifest.files.values())
        flat = [f for v in overlap_by_part.values() for f in v]
        if not part_cols or n_files_total <= MERGE_SMALL_MANIFEST_FILES:
            return flat
        affected = {tuple(canon_partition_value(v) for v in p) for p in src_parts}
        # Old copies of updated keys may live in partitions the new rows
        # don't touch (partition-value drift). Only files OUTSIDE the
        # already-affected partitions can add to the rewrite set — scan
        # just those; usually there are none and the job is skipped.
        outside_files = [
            f
            for k, v in overlap_by_part.items()
            if dir_key_to_canon_tuple(k, exprs) not in affected
            for f in v
        ]
        if outside_files:
            matched_parts = (
                self._read_files(manifest, outside_files)
                .select(*self.pk, *part_cols)
                .join(bcast(src_keys), on=self.pk, how="left_semi")
                .select(*part_cols)
                .distinct()
                .collect()
            )
            affected |= {
                tuple(canon_partition_value(r[c]) for c in part_cols)
                for r in matched_parts
            }
        if len(affected) > MAX_PRUNED_PARTITIONS:
            return flat
        return [
            f
            for k, v in overlap_by_part.items()
            if dir_key_to_canon_tuple(k, exprs) in affected
            for f in v
        ]

    def _merge_arrow(
        self,
        df: DataFrame,
        manifest: Manifest,
        final_logical: T.StructType,
        exprs,
        part_cols: list[str],
        order_col: str | None,
        tombstone_col: str | None,
        ephemeral_order: bool,
    ):
        """Driver-side Arrow copy-on-write executor, for tables
        :meth:`arrow_merge_skip` admits: the conformed batch is evaluated
        once on the driver (:func:`_eval_arrow`: no job for a
        LocalRelation, as ingest hands it over, else ONE ``toArrow``),
        unless its known size estimate already puts table plus batch over
        ARROW_MERGE_MAX_BYTES (:func:`arrow_merge_over_cap`, declined
        before any job); then the whole merge — union,
        last-write-wins winner selection (a winning tombstone drops its
        key), ``_inserted_at`` carry-over, parquet write, stats harvest —
        happens in-process. This is the latency shape of the reference's
        MERGE (an in-process DuckDB statement,
        ``ingestor/DucklakeWriter.java:98-187``): a 10k-row merge costs
        the batch-evaluation job plus ~50 ms of Arrow work instead of
        Spark plan analysis + codegen + job scheduling per merge.

        Only the files holding a row whose key the batch updates or
        deletes are rewritten; every other file keeps its path and stats.
        The rewritten files' surviving rows and the batch's winning rows
        are written one file per partition dir (range-split past
        2 × MERGE_TARGET_FILE_ROWS), so a key whose update moves it to
        another partition leaves its old file; a dir left with no rows
        drops out of the manifest.

        A batch that evolves the schema merges here too: the target,
        read from its files or taken from ``_ARROW_TARGET_CACHE``, is
        aligned to ``final_logical``'s physical types
        (:func:`_align_arrow`), and the commit carries ``final_logical``.

        Returns True (committed), False (version conflict → replan) or
        None (declined → the pruning executor runs). Every decline is
        named and counted by :func:`_fallback`. Errors
        at or after the table lock propagate: the commit itself refused,
        and re-running the merge on Spark would only repeat the refusal."""
        import time

        import numpy as np
        import pandas as pd
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema

        from .table import _bloom_column, _stats_columns

        out_cols = _out_cols(final_logical, part_cols)
        pk = list(self.pk)
        try:
            # conform + derived partition columns as ONE selectExpr (one
            # Py4J round trip on the per-batch hot path). Derived exprs
            # wrap the conform cast of their source column so they see
            # the same value a post-conform withColumn would.
            extra = tuple(c for c in (tombstone_col,) if c)
            if ephemeral_order and order_col:
                extra += (order_col,)
            proj = _conform_exprs(
                df, final_logical, extra=extra,
                defaults=column_defaults(manifest),
            )
            physical = {
                f.name: f.dataType for f in to_physical_schema(final_logical).fields
            }
            if all(e.column in physical for e in exprs if e.is_derived):
                proj += [
                    f"{_PART_SQL[e.fn]}(CAST({_bt(e.column)} AS "
                    f"{physical[e.column].simpleString()})) AS {_bt(e.output_name)}"
                    for e in exprs
                    if e.is_derived
                ]
                raw = df.selectExpr(*proj)
            else:
                raw = with_partition_columns(df.selectExpr(*proj), exprs)
            # a batch the estimate already puts over the cap declines
            # before any job or file read
            if arrow_merge_over_cap(manifest, known_size(raw)):
                return _fallback("merge.arrowFallback", "size_cap")

            # ---- target: the version-keyed cache, else the files ----
            # A successful Arrow merge KNOWS the table's full contents at
            # the version it committed (the embedded-engine buffer-pool
            # analogue), so the next merge skips re-reading the files.
            # ``row_file`` is each row's index into ``files``. The merge
            # runs in LOGICAL column space: file tables are renamed
            # physical→logical right after the read (zero-copy). Both
            # sources are aligned to ONE schema — the (possibly evolved)
            # table's physical types, µs ``_inserted_at`` and the derived
            # partition columns — so files written before an ADD COLUMN
            # or a widening merge like new ones.
            rs = raw.schema
            common = _arrow_write_schema(
                to_arrow_schema(T.StructType([
                    T.StructField(c, T.TimestampType()) if c == INSERTED_AT else rs[c]
                    for c in out_cols
                ])),
                nullable=True,
            )
            files = manifest.all_files()
            cached = _ARROW_TARGET_CACHE.get(self.table.dir)
            if (
                cached is not None
                and cached[0] == manifest.version
                and set(cached[1]) == set(files)
            ):
                _, files, target, row_file = cached
                target = _align_arrow(target, common)
            else:
                inv_ren = {p: l for l, p in manifest.column_renames.items()}

                def read_one(f):
                    t = pq.read_table(os.path.join(self.table.dir, f))
                    t = t.rename_columns([inv_ren.get(n, n) for n in t.column_names])
                    return _align_arrow(t, common)

                tables = _thread_map(read_one, files)
                target = pa.concat_tables(tables) if tables else None
                row_file = np.repeat(
                    np.arange(len(files)), [t.num_rows for t in tables]
                )

            batch = _eval_arrow(raw, "merge.arrowBatchEval")

            dead = None
            if tombstone_col:
                dead = pc.fill_null(batch.column(tombstone_col), False)
            n_t = target.num_rows if target is not None else 0
            if (target.nbytes if n_t else 0) + batch.nbytes > ARROW_MERGE_MAX_BYTES:
                return _fallback("merge.arrowFallback", "size_cap")

            # ---- align the batch to the same schema ----
            bt = pa.table(
                [
                    pa.nulls(batch.num_rows, type=f.type)
                    if f.name == INSERTED_AT
                    else batch.column(f.name).cast(f.type)
                    for f in common
                ],
                schema=common,
            )
            combined = pa.concat_tables([target, bt]) if n_t else bt
            n_b = bt.num_rows
            if any(combined.column(k).null_count for k in pk):
                # a NULL key matches no row: the Spark merge's
                # equi-joins insert it beside any stored NULL key
                return _fallback("merge.arrowFallback", "null_pk")

            # ---- winner selection (the row_number window, in pandas) ----
            key_df = combined.select(pk).to_pandas()

            def keys_of(frame):
                if len(pk) == 1:
                    return pd.Index(frame[pk[0]].values)
                return pd.MultiIndex.from_frame(frame[pk])

            t_index = keys_of(key_df.iloc[:n_t])
            if not t_index.is_unique:
                return _fallback("merge.arrowFallback", "dup_target_keys")
            key_df["__pri"] = np.repeat(np.array([0, 1], dtype="int8"), [n_t, n_b])

            def batch_only(series: "pd.Series") -> "pd.Series":
                # full-length object column, null on the target side —
                # nulls only ever compare within the __pri=0 group (where
                # every value is null), so object-dtype sorting is safe
                full = pd.Series([None] * (n_t + n_b), dtype="object")
                full.iloc[n_t:] = list(series)
                return full

            sort_cols = ["__pri"]
            if order_col and ephemeral_order:
                st = batch.column(order_col)
                o_pd = pc.struct_field(st, "o").to_pandas()
                if o_pd.dtype == object:
                    return _fallback("merge.arrowFallback", "unsortable_order")
                key_df["__s"] = batch_only(pc.struct_field(st, "s").to_pandas())
                key_df["__o"] = batch_only(o_pd)
                sort_cols += ["__s", "__o"]
            elif order_col:
                o_pd = combined.column(order_col).to_pandas()
                if o_pd.dtype == object:
                    return _fallback("merge.arrowFallback", "unsortable_order")
                key_df["__ord"] = o_pd
                sort_cols.append("__ord")
            # arrival order within the batch (monotonically_increasing_id
            # twin: toArrow concatenates partitions in order); numpy —
            # a 100k-element Python list costs ~15 ms in sanitize alone
            key_df["__mono"] = np.concatenate([np.arange(-n_t, 0), np.arange(n_b)])
            sort_cols.append("__mono")
            key_df["__idx"] = np.arange(len(key_df))
            if sort_cols == ["__pri", "__mono"]:
                # no order column → winner is simply the LAST batch
                # occurrence of a key, else the (unique-keyed) target
                # row. Hash-based: O(n) vs the O(n log n) full sort.
                b_w = key_df.iloc[n_t:].drop_duplicates(subset=pk, keep="last")
                keep = ~t_index.isin(keys_of(b_w))
                winners = pd.concat([key_df.iloc[:n_t][keep], b_w])
            else:
                winners = key_df.sort_values(
                    sort_cols, ascending=False, kind="stable", na_position="last"
                ).drop_duplicates(subset=pk, keep="first")
            # ---- rewrite set: files of the target rows that lost ----
            # A target row loses when the batch updates or deletes its
            # key; its file is rewritten with the file's winning rows.
            # Every other file (and the rows in it) stays as it is.
            idx = winners["__idx"].to_numpy()
            emit = idx >= n_t
            if dead is not None:
                # a winning tombstone deletes its key (target rows have
                # __idx < n_t and are never tombstones)
                emit[emit] = ~dead.to_numpy(zero_copy_only=False)[idx[emit] - n_t]
            won = np.zeros(n_t, dtype=bool)
            won[idx[idx < n_t]] = True
            kept_file = np.bincount(row_file[~won], minlength=len(files)) == 0
            emit[idx < n_t] = ~kept_file[row_file[idx[idx < n_t]]]
            winners = winners[emit]
            out_tbl = combined.take(pa.array(winners["__idx"].to_numpy()))

            # ---- _inserted_at: keep the matched key's original stamp ----
            # computed on int64 epoch-µs values (common is µs): vectorized
            # and immune to pandas' unit/tz dtype variation
            ts_type = common.field(INSERTED_AT).type
            ts_us = out_tbl.column(INSERTED_AT).cast(pa.int64()).to_pandas()
            if ts_us.isna().any():
                now_us = time.time_ns() // 1000
                if n_t:
                    # target keys are unique (checked above) → an Index
                    # lookup replaces a join: O(|winners|) probe
                    old_us = (
                        target.column(INSERTED_AT).cast(pa.int64()).to_pandas().values
                    )
                    pos = t_index.get_indexer(keys_of(winners))
                    m_vals = np.where(
                        pos >= 0, old_us[np.maximum(pos, 0)].astype("float64"), np.nan
                    )
                    filled = np.where(
                        ts_us.notna(),
                        ts_us.values,
                        np.where(~np.isnan(m_vals), m_vals, now_us),
                    ).astype("int64")
                else:
                    filled = ts_us.fillna(now_us).astype("int64").values
                out_tbl = out_tbl.set_column(
                    out_tbl.column_names.index(INSERTED_AT),
                    pa.field(INSERTED_AT, ts_type),
                    pa.array(filled).cast(ts_type),
                )

            # ---- output: one file per partition dir ----
            # Range-split: a dir past 2 × MERGE_TARGET_FILE_ROWS is
            # pk-sorted and written as N files — per-file pk ranges are
            # disjoint, so the NEXT merge's overlap prune has something
            # to prune, and the files encode in parallel. Same rows-vs-
            # bytes balance as the Spark range layout (Arrow nbytes
            # overestimate parquet — errs toward fewer, larger files).
            parts = {}
            for key, part in dir_groups(out_tbl, exprs, manifest.files).items():
                n = part.num_rows
                parts[key] = [part]
                if n > 2 * MERGE_TARGET_FILE_ROWS:
                    part = part.take(
                        pc.sort_indices(part, sort_keys=[(k, "ascending") for k in pk])
                    )
                    n_files = min(MERGE_RANGE_MAX_FILES, _range_file_count(n, part.nbytes))
                    step = -(-n // max(1, n_files))
                    parts[key] = [part.slice(i, step) for i in range(0, n, step)]
            slices = [t for v in parts.values() for t in v]
            out_schema = T.StructType([f for f in raw.schema.fields if f.name in out_cols])
            stat_cols = _stats_columns(out_schema, pk)
            # a sidecar prunes only between files: none for a one-file table
            n_after = int(kept_file.sum()) + len(slices)
            bloom_col = _bloom_column(out_schema, pk) if n_after > 1 else None
            # the next version's contents for the target cache: the kept
            # files' rows, then the new files'; ``slot`` indexes ``files``
            # followed by the new files in write order
            keep_rows = np.flatnonzero(kept_file[row_file])
            pieces = ([target.take(keep_rows)] if target is not None else []) + slices
            next_tbl = pa.concat_tables(pieces) if pieces else None
            slot = np.concatenate(
                [row_file[keep_rows]]
                + [np.full(t.num_rows, len(files) + j) for j, t in enumerate(slices)]
            )
        except Exception:
            return _fallback("merge.arrowFallback", "error")

        # ---- write + commit (same protocol as the Spark path) ----
        with self.table.lock():
            # cheap tip check; unchanged ⇒ planning manifest is tip
            if self._chain_advanced(manifest.version):
                return False
            with REGISTRY.timer("merge.arrowWrite"):
                new_files, new_stats = self._staged(
                    manifest, stat_cols, bloom_col
                ).write(parts)
            nm = self._commit_next(
                manifest, "MERGE", final_logical,
                **manifest.replace_files(
                    [f for f, k in zip(files, kept_file) if not k],
                    new_files, new_stats,
                ),
            )
        if len(_ARROW_TARGET_CACHE) >= 4:
            _ARROW_TARGET_CACHE.clear()
        if next_tbl is not None:
            next_files = nm.all_files()
            pos = {f: i for i, f in enumerate(next_files)}
            written = [f for v in new_files.values() for f in v]
            remap = np.array([pos.get(f, -1) for f in files + written])
            _ARROW_TARGET_CACHE[self.table.dir] = (
                manifest.version + 1, next_files, next_tbl, remap[slot],
            )
        # insert-only dirs gained a file
        self._maybe_auto_compact(nm)
        return True

    # ---------- internals ----------

    def _est_rewrite_rows(self, manifest: Manifest, rewrite_files: list[str]) -> int:
        """Rewrite-set row count from manifest ``__rows`` stats; files
        without one (pre-``__rows`` manifests) fall back to a bytes-based
        estimate, which under-counts skinny rows — harmless: it only
        under-splits the output."""
        total = 0
        for f in rewrite_files:
            s = manifest.file_stats.get(f) or {}
            r = s.get("__rows")
            if r is None:
                r = int(s.get("__bytes") or 0) // EST_ROW_BYTES
            total += int(r)
        return total

    def _est_rewrite_bytes(self, manifest: Manifest, rewrite_files: list[str]) -> int:
        """Rewrite-set size from manifest __bytes stats; files the
        manifest has no size for fall back to one local stat call, and
        failing that are assumed large (→ the conservative plan)."""
        total = 0
        for f in rewrite_files:
            b = (manifest.file_stats.get(f) or {}).get("__bytes")
            if b is None:
                try:
                    b = self.table.fs.file_size(os.path.join(self.table.dir, f))
                except OSError:
                    b = SMALL_OUTPUT_BYTES
            total += int(b)
        return total

    def _rewrite_layout(self, manifest: Manifest, rewrite_files: list[str]) -> str:
        """Layout for a file-rewrite commit (CoW DELETE/UPDATE): small
        rewrite sets get split to ~parallelism scan tasks by Spark, so
        the 'natural' layout would emit one sub-compact-threshold file
        per task and the commit would immediately pay an auto-compact
        rewrite; bounded sets rebalance into advisory-sized files
        instead (same gate as the merge path)."""
        return (
            "rebalance"
            if self._est_rewrite_bytes(manifest, rewrite_files)
            <= MERGE_REBALANCE_MAX_BYTES
            else "natural"
        )

    def _ensure_table(self, df: DataFrame) -> Manifest:
        if not self.table.exists():
            if not self.auto_create:
                raise ValueError(
                    f"Table {self.table.name} does not exist and auto-create is disabled"
                )
            with REGISTRY.timer("createTable"):
                self.table.create(
                    _logical_schema_of(df), pk=self.pk, partition_by=self.partition_by
                )
        return self.table.manifest()

    def _prepare_insert(self, df: DataFrame, manifest: Manifest) -> DataFrame:
        final_logical = _logical_schema_of_batch(df, manifest)
        out = _conform(
            df, final_logical, defaults=column_defaults(manifest)
        ).withColumn(INSERTED_AT, F.current_timestamp())
        return with_partition_columns(out, manifest.partition_exprs)

    def _commit_next(
        self,
        manifest: Manifest,
        op: str,
        final_logical: T.StructType | None = None,
        extra_props: dict | None = None,
        **changes,
    ) -> Manifest:
        """Commit a write's successor of ``manifest`` and return it: the
        writer's ``extra_commit_props``, ``extra_props`` and the
        in-flight txn marker join the carried props, and
        ``final_logical`` (the batch-evolved schema) becomes the schema
        with ``_inserted_at`` last."""
        props = {**manifest.props, **self.extra_commit_props, **(extra_props or {})}
        if self._txn is not None:
            app, epoch = self._txn
            props["txns"] = {**props.get("txns", {}), str(app): int(epoch)}
        if final_logical is not None:
            fields = [f for f in final_logical.fields if f.name != INSERTED_AT]
            fields.append(T.StructField(INSERTED_AT, T.TimestampType(), True))
            changes["schema"] = T.StructType(fields)
        nm = manifest.successor(op, props=props, pk=manifest.pk or self.pk, **changes)
        self.table._commit(nm, parent_manifest=manifest)
        return nm

    def _read_files(self, manifest: Manifest, rel_files: list[str]) -> DataFrame:
        """Read an explicit file list under the manifest's read schema,
        with merge-on-read tombstone visibility applied — so every
        copy-on-write rewrite (merge/update/delete) over a table
        carrying MOR state reads only VISIBLE rows and thereby
        materializes the debt for the files it touches."""
        from .mor import read_visible

        df = read_visible(self.table, manifest, rel_files)
        return self.table.to_logical_names(df, manifest)


def _logical_schema_of_batch(df: DataFrame, manifest: Manifest) -> T.StructType:
    """Reconcile the incoming batch's logical schema against the stored
    schema → final (possibly evolved) logical schema. Raises
    ReconcileError (the caller DLQs) on incompatible evolution, and on
    an added column named like a renamed column's physical name: the
    files already hold a column of that name, so the two would
    collide."""
    incoming = _logical_schema_of(df)
    existing = T.StructType([f for f in manifest.schema.fields if f.name != INSERTED_AT])
    plan = plan_evolution(existing, incoming)
    renamed = {p: l for l, p in manifest.column_renames.items()}
    for f in plan.add_columns:
        if f.name in renamed:
            raise ReconcileError(
                f"cannot add column '{f.name}': it is the physical name of "
                f"renamed column '{renamed[f.name]}'",
                field=f.name,
                incoming=f.dataType,
            )
    return plan.final_schema
