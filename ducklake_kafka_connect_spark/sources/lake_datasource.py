"""Lake tables as a native Spark data source (PySpark 4 Python
DataSource API): ``spark.read.format("ducklake")`` for snapshot reads
with manifest-stat FILTER PUSHDOWN, and
``spark.readStream.format("ducklake")`` for incremental consumption
where the offset log IS the manifest version chain.

The reference exposes its lake to consumers through the DuckDB
attachment (``connect/DucklakeConnectionFactory.java:36-95``); the
engine's ``LakeCatalog.sql`` is that parity surface. This module adds
the SPARK-native half: any Spark job — no engine imports, just the
registered short name — can read a lake table like a first-class
format, and a Structured Streaming query can follow a table's commits
exactly the way Delta's streaming source follows the Delta log:

- **offset = committed version.** ``initialOffset`` is the tip at
  stream start (or ``startingVersion``), ``latestOffset`` is the
  current tip (a LIST under the CAS backend — no pointer trust), and a
  micro-batch's partitions are precisely the data files ADDED by the
  versions in ``(start, end]``. One file = one ``InputPartition`` =
  one task; executors read the immutable parquet directly via pyarrow
  and yield Arrow RecordBatches (zero row-at-a-time Python).
- **append-only discipline, declared.** A commit that REMOVES files
  (MERGE rewrite, DELETE, OPTIMIZE) is not an append; following
  Delta's streaming-source contract the reader raises by default,
  ``skipChangeCommits=true`` skips those commits entirely, and
  ``ignoreChanges=true`` emits their added files (consumer accepts
  possible re-delivery of rewritten rows).
- **filter pushdown = manifest stat pruning.** The batch reader maps
  Spark's pushed ``Filter`` objects onto the same footer-stat/Bloom
  file pruning ``read(where=…)`` uses, so a selective equality opens
  the same file count through ``spark.read.format("ducklake")`` as
  through the engine API. All filters are reported unsupported-after-
  pruning, so Spark still applies them row-level (pruning is a
  superset guarantee, never a substitute).

Schema evolution: files older than a column null-fill it; files newer
than the stream's fixed schema simply project it away. Renamed columns
read through the manifest's logical→physical mapping per version.

Usage::

    from ducklake_kafka_connect_spark.sources.lake_datasource import (
        register_lake_datasource,
    )
    register_lake_datasource(spark)
    df = (spark.read.format("ducklake")
          .option("path", "/lake/root").option("table", "events").load())
    stream = (spark.readStream.format("ducklake")
              .option("path", "/lake/root").option("table", "events")
              .load())

Options: ``path`` (lake root), ``table``, ``backend`` (posix|cas,
default $DUCKLAKE_STORAGE_BACKEND), ``version``/``tag`` (batch
time travel), ``where`` (extra batch prune predicate), ``columns``
(comma-separated projection — Spark cannot push column pruning into a
Python DataSource, so a bare ``.select()`` after ``load()`` reads the
full width through Arrow; this option narrows the parquet page reads
to exactly the listed columns. Wide-table scans that can't enumerate
columns should prefer the JVM-pruned native paths ``table.read()`` /
``LakeCatalog.sql``), ``startingVersion``/``startingTimestamp``
(stream — the latter starts at the earliest commit at or after the
timestamp, Delta semantics),
``skipChangeCommits``/``ignoreChanges`` (stream), ``batchRows`` (arrow
batch size, default 65536).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from typing import Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    InputPartition,
    LessThan,
    LessThanOrEqual,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType


def register_lake_datasource(spark) -> None:
    """Register the ``ducklake`` format on a session (and enable Python
    data-source filter pushdown — the batch reader's stat pruning hooks
    in through ``pushFilters``, which Spark gates behind this conf)."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(DucklakeDataSource)


def _truthy(v) -> bool:
    return str(v).strip().lower() in ("1", "true", "yes")


def _parse_columns_opt(s: str) -> list[str]:
    """Comma-split a ``columns`` option value, honoring backtick-quoted
    identifiers (`` `a,b` `` is ONE column named ``a,b``; doubled
    backticks escape a literal one)."""
    out: list[str] = []
    cur: list[str] = []
    inq = False
    i = 0
    while i < len(s):
        ch = s[i]
        if ch == "`":
            if inq and i + 1 < len(s) and s[i + 1] == "`":
                cur.append("`")
                i += 2
                continue
            inq = not inq
            i += 1
            continue
        if ch == "," and not inq:
            name = "".join(cur).strip()
            if name:
                out.append(name)
            cur = []
            i += 1
            continue
        cur.append(ch)
        i += 1
    name = "".join(cur).strip()
    if name:
        out.append(name)
    return out


def _open_table(options):
    """Metadata-only LakeTable from DataSource options (no SparkSession:
    the reader runs driver-side for planning and executor-side for I/O,
    both through the storage backend alone)."""
    from ..lake.table import LakeTable

    root = options.get("path")
    name = options.get("table")
    if not root or not name:
        raise ValueError(
            "ducklake source needs .option('path', <lake root>) and "
            ".option('table', <table name>)"
        )
    return LakeTable(None, root, name, backend=options.get("backend"))


def _read_surface(table, m) -> StructType:
    """The schema ``table.read()`` presents: physical (storage) types
    under logical names, derived partition columns hidden."""
    from ..lake.partitioning import derived_column_names
    from ..lake.table import to_physical_schema

    hidden = set(derived_column_names(m.partition_exprs))
    phys = to_physical_schema(m.schema)
    return StructType([f for f in phys.fields if f.name not in hidden])


@dataclass
class _FileSlice(InputPartition):
    """One immutable data file; the whole unit of streaming re-play and
    batch parallelism. Carries everything the executor-side read needs
    (no driver round-trips): absolute path, the logical→physical rename
    map in force for its version, and the arrow batch size."""

    path: str
    renames: "dict[str, str]"
    batch_rows: int
    # merge-on-read visibility (lake/mor.py): this file's commit seq,
    # the (abs tombstone path, tombstone seq) pairs that postdate it,
    # and the PHYSICAL pk column names to anti-join on. Empty tuples on
    # tables without MOR state — zero overhead on the common path.
    mor_seq: int = 0
    mor_tombs: "tuple" = ()
    mor_pk: "tuple" = ()
    # pending inlined rows (lake/inline.py): base64 Arrow-IPC blobs
    # decoded executor-side when path is the empty sentinel. Bounded by
    # the table's inline limit, so one small partition carries them all.
    inline_ipc: "tuple" = ()


def _arrow_target(schema: StructType):
    from pyspark.sql.pandas.types import to_arrow_schema

    return to_arrow_schema(schema, timestamp_utc=True)


def _read_file_slices(
    parts: "Sequence[_FileSlice]", schema: StructType
) -> "Iterator":
    """Executor-side: parquet file → Arrow RecordBatches shaped exactly
    like the declared read surface (rename physical→logical, null-fill
    columns the file predates, project away columns it postdates, cast
    to the Spark-Arrow types)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    target = _arrow_target(schema)
    for part in parts:
        if not part.path:  # inline-rows carrier or empty-plan sentinel
            if part.inline_ipc:
                from ..lake.inline import conform_to_arrow, decode_blob

                for blob in part.inline_ipc:
                    out = conform_to_arrow(decode_blob(blob), target)
                    for batch in out.to_batches(max_chunksize=part.batch_rows):
                        yield batch
            continue
        pf = pq.ParquetFile(part.path)
        avail = set(pf.schema_arrow.names)
        # project the parquet read to the declared surface: Spark cannot
        # push column pruning into a Python DataSource, so the pruning
        # happens HERE — a narrowed schema (``columns`` option or
        # ``.schema(...)``) reads only those columns' pages, never the
        # file's full width
        want_phys: list[str] = []
        for logical in schema.fieldNames():
            phys = part.renames.get(logical, logical)
            if phys in avail and phys not in want_phys:
                want_phys.append(phys)
        if not want_phys and not part.mor_tombs:
            # every selected column postdates this file: all-null rows,
            # row count straight from the footer — zero pages read
            n = pf.metadata.num_rows
            out = pa.table(
                [pa.nulls(n, type=f.type) for f in target], schema=target
            )
            for batch in out.to_batches(max_chunksize=part.batch_rows):
                yield batch
            continue
        # merge-on-read visibility: pk columns must ride the read (then
        # drop) so suppressed rows can be anti-joined away
        pk_phys = [p for p in part.mor_pk if p in avail]
        read_cols = want_phys + [p for p in pk_phys if p not in want_phys]
        tbl = pf.read(columns=read_cols or None)
        if part.mor_tombs and pk_phys:
            tomb_tables = []
            for tpath, _tseq in part.mor_tombs:
                tt = pq.read_table(tpath, columns=list(pk_phys))
                tomb_tables.append(
                    pa.table(
                        [
                            tt.column(p).cast(tbl.schema.field(p).type)
                            for p in pk_phys
                        ],
                        names=list(pk_phys),
                    )
                )
            tombs = pa.concat_tables(tomb_tables)
            tbl = tbl.join(tombs, keys=list(pk_phys), join_type="left anti")
        phys_names = set(tbl.column_names)
        cols = []
        for field, logical in zip(target, schema.fieldNames()):
            phys = part.renames.get(logical, logical)
            if phys in phys_names:
                col = tbl.column(phys)
                if col.type != field.type:
                    col = col.cast(field.type)
            else:
                col = pa.nulls(tbl.num_rows, type=field.type)
            cols.append(col)
        out = pa.table(cols, schema=target)
        for batch in out.to_batches(max_chunksize=part.batch_rows):
            yield batch


_FILTER_OPS = {
    EqualTo: "=",
    GreaterThan: ">",
    GreaterThanOrEqual: ">=",
    LessThan: "<",
    LessThanOrEqual: "<=",
}


def _filter_to_conjunct(f) -> str | None:
    """Pushed Filter → the engine's predicate-string dialect (single
    top-level column, literal int/float/str). None = not mappable."""
    from ..lake.table import quote_ident

    op = _FILTER_OPS.get(type(f))
    if op is None:
        return None
    col = f.attribute
    if not isinstance(col, tuple) or len(col) != 1:
        return None
    v = f.value
    if isinstance(v, bool) or v is None:
        return None
    if isinstance(v, (int, float)):
        lit = repr(v)
    elif isinstance(v, str):
        lit = "'" + v.replace("'", "''") + "'"
    else:
        return None
    return f"{quote_ident(col[0])} {op} {lit}"


class _BatchReader(DataSourceReader):
    def __init__(self, options, schema: StructType):
        self.options = options
        self.schema = schema
        self.table = _open_table(options)
        version = options.get("version")
        tag = options.get("tag")
        if tag is not None:
            version = self.table.resolve_tag(tag)
        self.manifest = self.table.manifest(
            int(version) if version is not None else None
        )
        self.batch_rows = int(options.get("batchrows", 65536))
        self._prune: list[str] = []
        w = options.get("where")
        if w:
            self._prune.append(f"({w})")

    def pushFilters(self, filters):
        """Manifest-stat pruning from Spark's pushed filters: every
        mappable conjunct narrows the file list; ALL filters are handed
        back so Spark still applies them row-level (stat pruning is
        conservative superset selection, not evaluation)."""
        for f in filters:
            c = _filter_to_conjunct(f)
            if c is not None:
                self._prune.append(c)
            yield f

    def partitions(self):
        from ..lake.mor import mor_state

        m = self.manifest
        rel = m.all_files()
        if self._prune:
            rel, _ = self.table.prune_files(" AND ".join(self._prune), manifest=m)
        ren = dict(m.column_renames)
        seq_map, deletes = mor_state(m)
        pk_phys = tuple(ren.get(c, c) for c in m.pk) if deletes else ()
        parts = []
        for p in rel:
            fseq = int(seq_map.get(p, 0))
            tombs = tuple(
                (os.path.join(self.table.dir, tf), int(mv["seq"]))
                for tf, mv in sorted(deletes.items())
                if int(mv["seq"]) > fseq
            )
            parts.append(
                _FileSlice(
                    os.path.join(self.table.dir, p), ren, self.batch_rows,
                    mor_seq=fseq, mor_tombs=tombs, mor_pk=pk_phys if tombs else (),
                )
            )
        # pending inlined rows (lake/inline.py) ride ONE extra carrier
        # partition; stat pruning never drops them (they have no stats),
        # and Spark re-applies every filter row-level (pushFilters hands
        # all of them back), so the carrier stays a conservative superset
        # exactly like an unprunable file
        from ..lake.inline import inline_state

        blobs, _ = inline_state(m)
        if blobs:
            parts.append(
                _FileSlice("", {}, self.batch_rows, inline_ipc=tuple(blobs))
            )
        # Spark requires at least one partition object; an empty-path
        # sentinel reads as zero rows
        return parts or [_FileSlice("", {}, self.batch_rows)]

    def read(self, partition: _FileSlice):
        return _read_file_slices([partition], self.schema)


class _StreamReader(DataSourceStreamReader):
    def __init__(self, options, schema: StructType):
        self.options = options
        self.schema = schema
        self.table = _open_table(options)
        self.batch_rows = int(options.get("batchrows", 65536))
        self.skip_change = _truthy(options.get("skipchangecommits", "false"))
        self.ignore_changes = _truthy(options.get("ignorechanges", "false"))
        self._starting = options.get("startingversion")
        self._starting_ts = options.get("startingtimestamp")
        if self._starting is not None and self._starting_ts is not None:
            raise ValueError(
                "ducklake stream: pass startingVersion or startingTimestamp, "
                "not both"
            )

    def initialOffset(self) -> dict:
        if self._starting is not None:
            # offset = last PROCESSED version; startingVersion is the
            # first version the stream should emit
            return {"version": int(self._starting) - 1}
        if self._starting_ts is not None:
            # Delta semantics: first emitted version = earliest commit AT
            # OR AFTER the timestamp; all commits older → tip (future only)
            v = self.table.first_version_at_or_after(self._starting_ts)
            if v is None:
                return {"version": self.table.visible_version()}
            return {"version": v - 1}
        return {"version": self.table.visible_version()}

    def latestOffset(self) -> dict:
        # visible, not physical, tip: versions pending under an open
        # multi-table transaction (lake/txn.py) must not be emitted —
        # they become part of a batch only after the txn's atomic
        # COMMIT, and if it rolls back their version numbers are freed
        # and reused, which is safe precisely because the offset never
        # advanced past the visible chain
        return {"version": self.table.visible_version()}

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        lo, hi = int(start["version"]), int(end["version"])
        parts: list[InputPartition] = []
        # offset = last PROCESSED version, so lo < 0 (startingVersion=0)
        # means NOTHING is processed yet: v0's own files are "added"
        # relative to an empty baseline. (Tables born by clone/add_files
        # carry files in v0; treating v0 as the baseline dropped them.)
        prev_files: set | None = set() if lo < 0 else None
        prev_mor: dict | None = {} if lo < 0 else None
        for v in range(max(lo, 0), hi + 1):
            try:
                m = self.table.manifest(v)
            except FileNotFoundError as e:
                raise RuntimeError(
                    f"ducklake stream on {self.table.name}: version {v} is "
                    f"no longer resolvable ({e}) — it was likely removed by "
                    f"vacuum retention. Restart the stream with a fresh "
                    f"checkpoint and startingVersion within the retained "
                    f"window (current tip: {self.table.current_version()})"
                ) from e
            files = set(m.all_files())
            if prev_files is not None and v > lo:
                removed = prev_files - files
                added = sorted(files - prev_files)
                # a merge-on-read commit removes no file but changes
                # visibility via new tombstones — the same non-append
                # gate applies (Delta parity: with ignoreChanges the
                # delta files' post-image rows are emitted as appends,
                # at-least-once per key; tombstone files themselves
                # never appear in m.files, so they are never emitted)
                new_tombs = set(
                    (m.props.get("mor") or {}).get("deletes") or {}
                ) - set((prev_mor or {}).get("deletes") or {})
                if (removed or new_tombs) and not self.ignore_changes:
                    if self.skip_change:
                        prev_files = files
                        prev_mor = m.props.get("mor") or {}
                        continue
                    what = (
                        f"{len(removed)} file(s) removed"
                        if removed
                        else f"{len(new_tombs)} merge-on-read tombstone(s) added"
                    )
                    raise ValueError(
                        f"ducklake stream on {self.table.name}: version {v} "
                        f"is not append-only ({what} "
                        f"by {m.props.get('last_op', 'a rewrite')}); set "
                        f"skipChangeCommits=true to skip such commits or "
                        f"ignoreChanges=true to accept re-delivery"
                    )
                ren = dict(m.column_renames)
                parts.extend(
                    _FileSlice(os.path.join(self.table.dir, p), ren, self.batch_rows)
                    for p in added
                )
            prev_files = files
            prev_mor = m.props.get("mor") or {}
        return parts or [_FileSlice("", {}, self.batch_rows)]

    def read(self, partition: _FileSlice):
        return _read_file_slices([partition], self.schema)

    def commit(self, end: dict) -> None:
        pass  # offsets live in the query's checkpoint; nothing to do


class DucklakeDataSource(DataSource):
    """``ducklake`` format: lake tables as a native Spark source."""

    @classmethod
    def name(cls) -> str:
        return "ducklake"

    def schema(self) -> StructType:
        t = _open_table(self.options)
        version = self.options.get("version")
        tag = self.options.get("tag")
        if tag is not None:
            version = t.resolve_tag(tag)
        m = t.manifest(int(version) if version is not None else None)
        surface = _read_surface(t, m)
        cols_opt = self.options.get("columns")
        if not cols_opt:
            return surface
        # explicit projection: Spark has no column-pruning hook for
        # Python DataSources, so a bare .select() after load() still
        # reads every column through Arrow — .option("columns", "a,b")
        # narrows the declared schema, and the executor-side read
        # projects the parquet scan to exactly those columns' pages
        want = _parse_columns_opt(cols_opt)
        by_name = {f.name: f for f in surface.fields}
        missing = [c for c in want if c not in by_name]
        if missing:
            raise ValueError(
                f"ducklake columns option references unknown column(s) "
                f"{missing}; table columns: {list(by_name)}"
            )
        if not want:
            raise ValueError("ducklake columns option is empty")
        return StructType([by_name[c] for c in want])

    def reader(self, schema: StructType) -> DataSourceReader:
        return _BatchReader(self.options, schema)

    def streamReader(self, schema: StructType) -> DataSourceStreamReader:
        return _StreamReader(self.options, schema)

    def writer(self, schema: StructType, overwrite: bool):
        return _BatchWriter(self.options, schema, overwrite)

    def streamWriter(self, schema: StructType, overwrite: bool):
        return _StreamWriter(self.options, schema, overwrite)


# ---------------------------------------------------------------------------
# Write path: df.write.format("ducklake") / writeStream.format("ducklake")
# ---------------------------------------------------------------------------


@dataclass
class _WriteResult(WriterCommitMessage):
    """One task's staged output: (partition dir key, manifest-relative
    path) pairs + footer stats (harvested executor-side — the driver
    commit does zero file I/O) + the harvest and Bloom skips the driver
    counts. Under ``mergeKeys`` (upsert mode) the task also stages one
    PK-tombstone file; ``tomb`` carries its (relpath, {"seq-less meta"})
    pair for the merge-on-read commit."""

    entries: "list[tuple[str, str]]"
    stats: "dict[str, dict]"
    rows: int
    tomb: "tuple[str, dict] | None" = None
    skips: "dict[str, int]" = field(default_factory=dict)


class _WriterBase:
    """Shared plan for the batch and streaming sinks: tasks stage
    immutable parquet under ``data/s-<uuid>/`` (pyarrow, physical
    column layout, ``_inserted_at`` stamped), the driver folds the
    staged files into a new manifest version under the table lock.
    Between staging and commit the files are unreferenced — vacuum's
    orphan-grace window is what makes that safe (maintenance.py).

    INSERT semantics by default (a pk table is refused so the merge
    invariant can't be silently violated). With ``mergeKeys=<pk list>``
    the sink becomes a streaming/batch UPSERT: every epoch commits as a
    merge-on-read MERGE — delta data files plus one PK-tombstone file
    per task (lake/mor.py) — so upserts cost O(batch) with exactly-once
    epoch markers and need no foreachBatch. Batches must be pk-unique
    (dedup upstream); OPTIMIZE / the auto-materialize threshold retires
    the accumulated tombstones.

    Read-amplification trade-off (documented, deliberate): the sink
    tombstones EVERY key in the batch — inserts included — because a
    distributed task cannot cheaply prove a key is new (LakeWriter's
    merge path checks matched keys driver-side; the sink has no such
    pass). Insert-heavy streams therefore grow the standing tombstone
    set that every read anti-joins against, until the auto-materialize
    threshold (MOR_AUTO_MATERIALIZE_DELETES) or an explicit OPTIMIZE
    compacts it away. Tombstones are PK-only, so the cost is bounded:
    #un-compacted epochs × batch keys, broadcast while under
    MOR_BROADCAST_BYTES. For append-only streams use the default INSERT
    mode (no tombstones at all).

    Partitioned tables write WITHOUT a shuffle, the way Spark's own
    dynamic-partition writes do: each task splits its Arrow batches by
    partition value (year/month/day derived columns computed
    executor-side with pyarrow compute, UTC — matching the engine's
    pinned-UTC session) and writes them through the engine's Arrow
    writer (``lake/arrow_files.py``, the one the driver's Arrow append
    and merge use): the same dir names, codec, stats and PK Bloom
    sidecars, one open file per partition dir it encounters. A skewed
    stream simply yields one file per (task × partition) — the same
    shape Spark's writer produces — and compaction consolidates."""

    def __init__(self, options, schema: StructType):
        from ..lake.table import INSERTED_AT, _bloom_column, _stats_columns

        self.options = options
        t = _open_table(options)
        self.root = options.get("path")
        self.name = options.get("table")
        self.backend_name = t.fs.name
        # upsert mode: mergeKeys=<pk list> commits every batch/epoch as a
        # merge-on-read MERGE (delta data files + a per-task PK tombstone
        # that suppresses older versions of the batch's keys) — O(batch)
        # streaming upserts with exactly-once epoch semantics, no
        # foreachBatch needed. Contract: each batch must be pk-unique
        # (two same-key rows in ONE epoch share a commit seq and both
        # stay visible — dedup upstream, e.g. dropDuplicates).
        mk = options.get("mergekeys")
        self.merge_keys = [c.strip() for c in mk.split(",") if c.strip()] if mk else []
        if not t.exists():
            if _truthy(options.get("autocreate", "true")):
                t.create(schema, pk=self.merge_keys)
            else:
                raise ValueError(f"ducklake sink: unknown table {self.name!r}")
        m = t.manifest()
        if self.merge_keys:
            if list(m.pk) != self.merge_keys:
                raise ValueError(
                    f"ducklake sink: mergeKeys {self.merge_keys} do not match "
                    f"table {self.name}'s PRIMARY KEY {list(m.pk)}"
                )
            missing = [c for c in self.merge_keys if c not in schema.fieldNames()]
            if missing:
                raise ValueError(
                    f"ducklake sink: mergeKeys column(s) {missing} absent "
                    f"from the frame schema"
                )
        elif m.pk:
            raise ValueError(
                f"ducklake sink: {self.name} has a PRIMARY KEY — pass "
                f"mergeKeys={','.join(m.pk)} for merge-on-read upserts, or "
                f"use LakeWriter.merge / SQL MERGE"
            )
        self.part_exprs = list(m.partition_exprs)
        for e in self.part_exprs:
            src_t = m.schema[e.column].dataType.simpleString()
            ok = (
                src_t in ("date", "timestamp", "timestamp_ntz")
                if e.is_derived
                else src_t in (
                    "tinyint", "smallint", "int", "bigint", "string",
                    "boolean", "date",
                )
            )
            if not ok:
                raise ValueError(
                    f"ducklake sink: partition expression "
                    f"{e.spec_string()!r} over {src_t} is not supported by "
                    f"the executor-side layout; write through LakeWriter"
                )
        surface = _read_surface(t, m)
        want = {f.name: f.dataType for f in surface.fields if f.name != INSERTED_AT}
        got = {f.name: f.dataType for f in schema.fields}
        if want != got:
            # Schema drift mid-stream — the first collision a real CDC
            # user hits (reference parity: the connector evolves the
            # target on every write, DucklakeTableManager.java:236-322).
            # NEW nullable columns evolve the table with a metadata-only
            # ADD COLUMN commit, here at plan time (driver, before any
            # task stages a file). Frame columns MISSING from the table
            # null-fill executor-side. Type changes still refuse — the
            # sink's Arrow path writes physical files in the staged
            # schema, so widening must go through LakeWriter's conform.
            mismatched = {
                c: (want[c], got[c])
                for c in set(want) & set(got)
                if want[c] != got[c]
            }
            if mismatched:
                raise ValueError(
                    f"ducklake sink: column type mismatch on table "
                    f"{self.name}: "
                    + ", ".join(
                        f"{c} (table {a.simpleString()}, frame "
                        f"{b.simpleString()})"
                        for c, (a, b) in sorted(mismatched.items())
                    )
                    + " — type widening goes through LakeWriter/SQL MERGE"
                )
            new_cols = [f for f in schema.fields if f.name not in want]
            for f in new_cols:
                t.add_column(f.name, f.dataType)
            if new_cols:
                m = t.manifest()
                surface = _read_surface(t, m)
        # arrow types for executor-side null-fill of frame-absent columns
        from pyspark.sql.pandas.types import to_arrow_type

        self.frame_cols = set(schema.fieldNames())
        self.fill_types = {
            f.name: to_arrow_type(f.dataType)
            for f in surface.fields
            if f.name != INSERTED_AT and f.name not in self.frame_cols
        }
        # column DEFAULTs are SQL expressions the LakeWriter conform
        # evaluates; this sink null-fills frame-absent columns in Arrow,
        # which would silently land NULL where the contract says the
        # default — refuse rather than diverge (include the column in
        # the frame, or write through LakeWriter)
        _defaulted_absent = sorted(
            k[len("default."):]
            for k in m.props.get("tblproperties", {})
            if k.startswith("default.")
            and k[len("default."):] in self.fill_types
        )
        if _defaulted_absent and not _truthy(
            options.get("skipconstraints", "")
        ):
            raise ValueError(
                f"ducklake sink: frame omits column(s) "
                f"{_defaulted_absent} of {self.name} that carry a "
                f"DEFAULT — this sink's executor-side fill is NULL, not "
                f"the default expression. Include the column(s) in the "
                f"frame, write through LakeWriter, or pass "
                f".option('skipConstraints', 'true') to accept NULL fill"
            )
        # executor-side plan: the Arrow writer's layout, table properties
        # (the codec), stats (PK first) and Bloom column, and the dirs
        # rows may land in
        self.renames = dict(m.column_renames)
        self.col_order = [f.name for f in surface.fields if f.name != INSERTED_AT]
        self.tblprops = dict(m.props.get("tblproperties", {}))
        self.stat_cols = _stats_columns(surface, self.merge_keys) + [
            e.output_name for e in self.part_exprs if e.is_derived
        ]
        self.bloom_col = _bloom_column(surface, self.merge_keys)
        self.dir_keys = list(m.files)
        self.stamp_inserted = INSERTED_AT in surface.fieldNames()
        # table-stored CHECK constraints (r14, VERDICT r13 #3): the
        # compilable subset — comparisons, IS [NOT] NULL, IN, BETWEEN,
        # AND/OR/NOT — evaluates executor-side per Arrow batch via
        # pyarrow.compute (sources/arrow_checks.py), with SQL CHECK null
        # semantics (only FALSE violates). Each predicate is compiled AND
        # dry-run against an empty table of the write schema here on the
        # driver, so type errors refuse at plan time, not in a task.
        # Only genuinely non-compilable predicates keep the old refusal.
        self.checks: dict = {}
        stored = {
            k[len("constraint."):]: v
            for k, v in m.props.get("tblproperties", {}).items()
            if k.startswith("constraint.")
        }
        # stored NOT NULL constraints compile to `col IS NOT NULL` —
        # always inside the compilable subset, strict by construction
        # (the predicate never evaluates to UNKNOWN). A frame-absent
        # NOT NULL column null-fills executor-side, so every row would
        # violate — exactly the refusal LakeWriter gives
        for k in m.props.get("tblproperties", {}):
            if k.startswith("notnull."):
                col = k[len("notnull."):]
                stored.setdefault(f"notnull_{col}", f"{col} IS NOT NULL")
        if stored and not _truthy(options.get("skipconstraints", "")):
            import pyarrow as pa

            from .arrow_checks import (
                CheckCompileError,
                compile_check,
                violations,
            )

            cols = {f.name for f in surface.fields if f.name != INSERTED_AT}
            empty = pa.table(
                {
                    f.name: pa.array([], type=to_arrow_type(f.dataType))
                    for f in surface.fields
                    if f.name != INSERTED_AT
                }
            )
            bad: dict = {}
            for cname, pred in sorted(stored.items()):
                try:
                    node = compile_check(pred, cols)
                    violations({cname: node}, empty)  # plan-time dry run
                    self.checks[cname] = (node, pred)
                except CheckCompileError as e:
                    bad[cname] = str(e)[:120]
            if bad:
                raise ValueError(
                    f"ducklake sink: table {self.name} carries CHECK "
                    f"constraint(s) {sorted(bad)} outside this sink's "
                    f"compilable subset ("
                    + "; ".join(f"{k}: {v}" for k, v in sorted(bad.items()))
                    + ") — write through LakeWriter, or pass "
                    f".option('skipConstraints', 'true') to accept "
                    f"unenforced writes"
                )
        self.table_dir = t.dir
        # commit-time drift gates: layout decisions baked into staged
        # files must still hold when the manifest is folded
        self.part_spec_strings = list(m.partition_spec)

    # -- executor side --
    def write(self, iterator):
        import time
        import uuid as _uuid
        from collections import Counter

        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        from ..lake.arrow_files import StagedFiles, dir_groups
        from ..lake.table import INSERTED_AT

        stage_rel = os.path.join("data", f"s-{_uuid.uuid4().hex[:12]}")
        stamp = pa.scalar(
            int(time.time() * 1_000_000), type=pa.timestamp("us", tz="UTC")
        )
        staged = StagedFiles(
            self.table_dir, stage_rel, self.tblprops, self.renames,
            self.stat_cols, self.bloom_col,
        )
        skips: Counter = Counter()
        tomb_parts: "list" = []
        rows = 0
        try:
            for batch in iterator:
                tbl = pa.Table.from_batches([batch])
                cols = {
                    c: tbl.column(c)
                    if c in self.frame_cols
                    else pa.nulls(len(tbl), type=self.fill_types[c])
                    for c in self.col_order
                }
                if self.checks:
                    # CHECK enforcement per Arrow batch, logical names,
                    # BEFORE any file content is staged for this batch
                    from ..lake.writer import ConstraintViolation
                    from .arrow_checks import violations

                    bad = violations(
                        {n: node for n, (node, _) in self.checks.items()},
                        pa.table(cols),
                    )
                    if bad:
                        raise ConstraintViolation(
                            f"batch violates CHECK constraint(s) on "
                            f"{self.name}: "
                            + ", ".join(
                                f"{n} ({c} row(s), predicate: "
                                f"{self.checks[n][1]!r})"
                                for n, c in sorted(bad.items())
                            )
                        )
                if self.stamp_inserted:
                    cols[INSERTED_AT] = pa.chunked_array([pa.repeat(stamp, len(tbl))])
                # derived partition DATA columns ride inside the file,
                # exactly like the engine's Spark-written layout (UTC
                # extraction == the engine's pinned-UTC session). Source
                # comes from the FILLED columns (a null-filled partition
                # source derives a null cell → HIVE_NULL dir).
                for e in self.part_exprs:
                    if e.is_derived:
                        fn = {"year": pc.year, "month": pc.month, "day": pc.day}[e.fn]
                        cols[e.output_name] = pc.cast(fn(cols[e.column]), pa.int32())
                out = pa.table(cols)
                rows += len(out)
                if self.merge_keys:
                    tomb_parts.append(out.select(self.merge_keys))
                for key, part in dir_groups(out, self.part_exprs, self.dir_keys).items():
                    staged.append(key, part)
        finally:
            files, stats = staged.close(skips)
        entries = [(key, rel) for key, rels in files.items() for rel in rels]
        tomb = None
        if self.merge_keys and rows:
            # upsert mode: this task's keys as ONE pk-only tombstone file;
            # the commit stamps it with the epoch's version so it
            # suppresses every OLDER copy of these keys (lake/mor.py) but
            # never the delta files committed alongside it (same seq)
            trel = os.path.join(
                stage_rel, f"tombstones-{_uuid.uuid4().hex[:8]}.parquet"
            )
            tabs = os.path.join(self.table_dir, trel)
            os.makedirs(os.path.dirname(tabs), exist_ok=True)
            pq.write_table(
                pa.concat_tables(tomb_parts).rename_columns(
                    [self.renames.get(c, c) for c in self.merge_keys]
                ),
                tabs, compression="snappy",
            )
            tomb = (trel, {"rows": rows, "bytes": os.path.getsize(tabs)})
        return _WriteResult(entries, stats, rows, tomb, dict(skips))

    # -- driver side --
    def _commit_files(self, messages, overwrite: bool, txn=None) -> None:
        from ..metrics import REGISTRY

        t = _open_table(
            {"path": self.root, "table": self.name, "backend": self.backend_name}
        )
        entries: "list[tuple[str, str]]" = []
        stats: dict[str, dict] = {}
        tombs: "list[tuple[str, dict]]" = []
        for msg in messages:
            if msg is None:
                continue
            entries.extend(msg.entries)
            stats.update(msg.stats)
            for name, n in msg.skips.items():
                REGISTRY.inc(name, n)
            if getattr(msg, "tomb", None):
                tombs.append(msg.tomb)
        if self.merge_keys and overwrite:
            raise ValueError(
                "ducklake sink: mergeKeys cannot combine with overwrite mode"
            )
        rel_files = [rel for _, rel in entries] + [rel for rel, _ in tombs]
        with t.lock():
            m = t.manifest()
            if self.merge_keys:
                # the sink's MERGE plans against files only: a pending
                # inline buffer (lake/inline.py) would duplicate rather
                # than update matching keys — refuse with the remedy
                from ..lake.inline import require_no_inline

                require_no_inline(m, self.name, "ducklake sink MERGE")
            # layout drift gates: the staged files were written for the
            # plan-time partition spec and rename map — a concurrent
            # ALTER between staging and commit would fold files laid out
            # for the OLD world into the NEW manifest. Fail the epoch
            # (marker unset → restart restages under the new layout).
            if list(m.partition_spec) != self.part_spec_strings:
                raise RuntimeError(
                    f"ducklake sink on {self.name}: partition spec changed "
                    f"mid-stream ({self.part_spec_strings} -> "
                    f"{list(m.partition_spec)}); restart the stream to "
                    f"restage this epoch under the new layout"
                )
            if dict(m.column_renames) != self.renames:
                raise RuntimeError(
                    f"ducklake sink on {self.name}: columns were renamed "
                    f"mid-stream; restart the stream to restage this epoch "
                    f"under the new mapping"
                )
            if txn is not None:
                app, epoch = txn
                last = m.props.get("txns", {}).get(app)
                if last is not None and int(last) >= int(epoch):
                    # replayed epoch: the batch already committed — drop
                    # the re-staged files instead of double-appending
                    for rel in rel_files:
                        for p in (rel, rel + ".bloom"):  # + its sidecar
                            t.fs.delete(os.path.join(t.dir, p), missing_ok=True)
                    return
            # staged-file existence gate: a vacuum whose orphan_grace_s
            # is smaller than this batch's stage→commit latency may have
            # reclaimed a staged file as an orphan. Committing anyway
            # would publish a manifest with dangling entries (silent
            # corruption, found by tests/test_sink_vacuum_stress.py) —
            # fail the epoch instead; the txn marker stays unset, so a
            # stream restart replays and restages it. The check is
            # race-free: vacuum's sweep runs under this same table lock.
            vanished = [
                rel
                for rel in rel_files
                if not t.fs.exists(os.path.join(t.dir, rel))
            ]
            if vanished:
                raise RuntimeError(
                    f"ducklake sink on {self.name}: {len(vanished)} staged "
                    f"file(s) vanished before commit (e.g. {vanished[0]}) — "
                    f"a concurrent vacuum's orphan_grace_s is below this "
                    f"batch's stage-to-commit latency; raise the grace "
                    f"(floor: the longest micro-batch duration) and restart "
                    f"the stream to replay this epoch"
                )
            if not (overwrite or entries):
                return  # empty append: no new version
            added: dict = {}
            for key, rel in entries:
                added.setdefault(key, []).append(rel)
            op = "SINK_OVERWRITE" if overwrite else "SINK_APPEND"
            props = dict(m.props)
            if self.merge_keys:
                # epoch = one merge-on-read MERGE: delta files stamped
                # with this version, per-task tombstones suppress older
                # copies of the epoch's keys (lake/mor.py)
                from ..lake.mor import mor_state

                v = m.version + 1
                seq_map, deletes = mor_state(m)
                for key, rel in entries:
                    seq_map[rel] = v
                for rel, meta in tombs:
                    deletes[rel] = {"seq": v, **meta}
                props["mor"] = {"seq": seq_map, "deletes": deletes}
                op = "SINK_MERGE(MOR)"
            if txn is not None:
                props["txns"] = {**m.props.get("txns", {}), txn[0]: int(txn[1])}
            drop = m.all_files() if overwrite else ()
            t._commit(
                m.successor(op, props=props, **m.replace_files(drop, added, stats)),
                parent_manifest=m,
            )
        if self.merge_keys:
            from ..lake.mor import MOR_AUTO_MATERIALIZE_DELETES, mor_state

            if (
                _truthy(self.options.get("autocompact", "true"))
                and len(mor_state(t.manifest())[1]) > MOR_AUTO_MATERIALIZE_DELETES
            ):
                from ..lake.maintenance import compact

                compact(t)

    def _abort_files(self, messages) -> None:
        t = _open_table(
            {"path": self.root, "table": self.name, "backend": self.backend_name}
        )
        for msg in messages or []:
            if msg is None:
                continue
            for _, rel in msg.entries:
                for p in (rel, rel + ".bloom"):  # + its sidecar
                    t.fs.delete(os.path.join(t.dir, p), missing_ok=True)
            if getattr(msg, "tomb", None):
                t.fs.delete(os.path.join(t.dir, msg.tomb[0]), missing_ok=True)
        # files from tasks that died before returning a message are
        # unreferenced debris — vacuum's orphan grace reclaims them


class _BatchWriter(_WriterBase, DataSourceArrowWriter):
    def __init__(self, options, schema: StructType, overwrite: bool):
        super().__init__(options, schema)
        self.overwrite = overwrite

    def commit(self, messages) -> None:
        self._commit_files(messages, self.overwrite)

    def abort(self, messages) -> None:
        self._abort_files(messages)


class _StreamWriter(_WriterBase, DataSourceStreamArrowWriter):
    """Exactly-once streaming sink: the epoch id rides the manifest's
    idempotent-commit marker (``props['txns']`` — the engine's E8b
    channel), so a Spark-replayed micro-batch commits nothing twice."""

    def __init__(self, options, schema: StructType, overwrite: bool):
        if overwrite:
            raise ValueError(
                "ducklake streaming sink supports append output mode only"
            )
        super().__init__(options, schema)
        self.app = options.get("txnappid") or f"ducklake_sink_{self.name}"

    def commit(self, messages, batchId: int) -> None:
        self._commit_files(messages, overwrite=False, txn=(self.app, batchId))

    def abort(self, messages, batchId: int) -> None:
        self._abort_files(messages)
