"""Table maintenance: compaction (OPTIMIZE) and vacuum.

The reference's answer to small files is buffering to 256 MiB before
flush plus catalog-side inlining of tiny batches
(``connect/DucklakeSinkTask.java:126-141``,
``connect/DucklakeConnectionFactory.java:88-92``); Delta's answer is
OPTIMIZE/auto-compaction. This engine writes immutable files per
commit, so a steady drip of micro-batches accretes small files per
partition — ``compact`` rewrites the offenders, ``vacuum`` reclaims
files no retained snapshot references.

Both run under the table lock and commit a new manifest version, so
readers pinned to older snapshots are unaffected until vacuum passes
their version.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..metrics import REGISTRY
from .table import LakeTable, Manifest


@dataclass
class CompactionResult:
    partitions_compacted: int
    files_before: int
    files_after: int


_ZORDER_MAX_BITS = 16
# target output file size for compaction (range/Z-order re-layouts)
COMPACT_FILE_BYTES = 128 * 1024 * 1024


def _as_double(name: str, dtype: T.DataType):
    if isinstance(dtype, T.NumericType) or isinstance(dtype, T.TimestampType):
        return F.col(name).cast("double")
    if isinstance(dtype, T.DateType):
        return F.col(name).cast("timestamp").cast("double")
    raise ValueError(f"zorder_by column {name!r} has unsupported type {dtype.simpleString()}")


def _zorder_value(df: DataFrame, cols: list[str]):
    """Morton (Z-order) key over ``cols``: each column scaled to a
    2^bits-bucket grid via one driver-side min/max aggregate +
    ``width_bucket`` (codegen), bits interleaved with shift/and exprs.
    Range-partitioning + sorting by this key clusters every listed
    column simultaneously, so per-file [min, max] stats stay tight on
    ALL of them — the multi-column data-skipping layout (Delta's
    OPTIMIZE ZORDER BY)."""
    k = len(cols)
    bits = min(_ZORDER_MAX_BITS, 48 // k)
    n = 1 << bits
    exprs = {c: _as_double(c, df.schema[c].dataType) for c in cols}
    row = df.agg(
        *[F.min(exprs[c]).alias(f"lo_{c}") for c in cols],
        *[F.max(exprs[c]).alias(f"hi_{c}") for c in cols],
    ).collect()[0]
    z = F.lit(0).cast("long")
    for j, c in enumerate(cols):
        lo, hi = row[f"lo_{c}"], row[f"hi_{c}"]
        if lo is None or hi is None or lo == hi:
            continue  # constant/empty column contributes no bits
        bucket = F.width_bucket(exprs[c], F.lit(float(lo)), F.lit(float(hi)), F.lit(n)) - 1
        bucket = F.coalesce(
            F.least(F.greatest(bucket, F.lit(0)), F.lit(n - 1)), F.lit(0)
        ).cast("long")
        for i in range(bits):
            z = z + F.shiftleft(F.shiftright(bucket, i).bitwiseAND(F.lit(1)), i * k + j)
    return z


def compact(
    table: LakeTable,
    max_files_per_partition: int = 1,
    zorder_by: list[str] | None = None,
    target_files: int | None = None,
    small_file_bytes: int | None = None,
    where: str | None = None,
) -> CompactionResult:
    """Rewrite every partition holding more than ``max_files_per_partition``
    data files into one file per partition-task.

    With ``small_file_bytes``, only partitions holding more than the
    threshold count of files UNDER that size are offenders, and only
    those small files are rewritten — right-sized files stay untouched
    (the auto-compaction mode: bounded rewrite amplification under a
    steady micro-batch drip, the analogue of the reference's tiny-batch
    inlining at ``connect/DucklakeConnectionFactory.java:88-92``).

    With ``zorder_by``, ALL files are rewritten into a Morton-ordered
    range layout instead: ``target_files`` output files (default
    #files/8) whose footer stats are tight on every listed column, so
    ``read(where=...)`` skips files for predicates on any of them —
    not just the primary key.

    ``where`` scopes the rewrite (``OPTIMIZE t WHERE p``): only files
    whose footer stats ADMIT the predicate are candidates — the 100 TB
    shape is "compact yesterday's hot partition", not the table. On a
    merge-on-read table a scoped OPTIMIZE materializes the debt for
    exactly the touched files; tombstones still suppressing rows in
    out-of-scope files stay standing (the commit chokepoint retires
    them only when no live file predates them).

    Scale shape: only offending partitions are read (explicit file list —
    no directory listing), hashed into one task per partition, and
    rewritten; untouched partitions carry their files into the new
    manifest unchanged. At 100 TB this runs as a background job per
    table with the same commit protocol as writes."""
    # OPTIMIZE right-sizes the file set — buffered inlined rows belong
    # in it, so flush first (lake/inline.py; DuckLake ties its flush to
    # maintenance the same way)
    from .inline import inline_state
    from .writer import LakeWriter

    if table.exists() and inline_state(table.manifest())[0]:
        LakeWriter(table, auto_create=False).flush_inlined()
    with REGISTRY.timer("compactTable"), table.lock():
        from .mor import mor_state, read_visible

        m = table.manifest()
        mor_deletes = mor_state(m)[1]
        src_files = m.files
        if where is not None:
            admitted, _ = table.prune_files(where)
            scope = set(admitted)
            src_files = {
                k: [f for f in v if f in scope] for k, v in m.files.items()
            }
            src_files = {k: v for k, v in src_files.items() if v}
        if zorder_by or mor_deletes:
            # zorder: re-layout everything. Merge-on-read state: OPTIMIZE
            # is the materialize step — rewrite every file with tombstone
            # visibility applied; the commit chokepoint then drops the
            # now-useless tombstones (no remaining file predates them)
            # and vacuum reclaims the tombstone files.
            offenders = dict(src_files)
        elif small_file_bytes is not None:
            offenders = {}
            for k, v in src_files.items():
                small = [
                    f
                    for f in v
                    if int((m.file_stats.get(f) or {}).get("__bytes") or 0)
                    < small_file_bytes
                ]
                if len(small) > max_files_per_partition:
                    offenders[k] = small
        else:
            offenders = {
                k: v
                for k, v in src_files.items()
                if len(v) > max_files_per_partition
            }
        if not offenders:
            return CompactionResult(0, sum(map(len, m.files.values())),
                                    sum(map(len, m.files.values())))
        rel = [p for v in offenders.values() for p in v]
        df = table.to_logical_names(read_visible(table, m, rel), m)
        exprs = m.partition_exprs
        # Output file count sized by BYTES (manifest __bytes stats), not
        # input file count — with optimized writes the input files are
        # already right-sized and a count heuristic would over-merge.
        total_bytes = sum(
            int((m.file_stats.get(f) or {}).get("__bytes") or 0)
            for v in offenders.values()
            for f in v
        )
        n_by_bytes = max(1, (total_bytes + COMPACT_FILE_BYTES - 1) // COMPACT_FILE_BYTES)
        if zorder_by:
            n_out = target_files or n_by_bytes
            zcol = _zorder_value(df, list(zorder_by))
            part_cols = [F.col(e.output_name) for e in exprs]
            df = (
                df.withColumn("__z", zcol)
                .repartitionByRange(n_out, *part_cols, F.col("__z"))
                .sortWithinPartitions(*part_cols, "__z")
                .drop("__z")
            )
        elif exprs:
            part_cols = [F.col(e.output_name) for e in exprs]
            df = df.repartition(max(len(offenders), 1), *part_cols)
            if m.pk:
                # sorted within each partition dir → tight footer stats
                df = df.sortWithinPartitions(*part_cols, *[F.col(c) for c in m.pk])
        elif m.pk:
            # range layout: output files carry DISJOINT pk ranges, so
            # subsequent merges prune to exactly the touched key range
            n_out = target_files or n_by_bytes
            df = df.repartitionByRange(n_out, *[F.col(c) for c in m.pk]).sortWithinPartitions(
                *[F.col(c) for c in m.pk]
            )
        else:
            df = df.coalesce(1)
        new_files, new_stats = table.write_data_files(df, m.version + 1, manifest=m)
        # per-FILE carryover (small_file_bytes offenders list only a
        # partition's small files; its right-sized files must survive)
        nm = m.successor("COMPACT", **m.replace_files(rel, new_files, new_stats))
        table._commit(nm, parent_manifest=m)
        return CompactionResult(
            len(offenders),
            sum(map(len, m.files.values())),
            sum(map(len, nm.files.values())),
        )


def vacuum(
    table: LakeTable,
    keep_versions: int = 1,
    orphan_grace_s: float = 3600.0,
    dry_run: bool = False,
) -> int:
    """Delete data files referenced by no retained snapshot (the newest
    ``keep_versions`` manifests) and drop older manifest versions.
    Returns the number of data files deleted. Time travel remains valid
    for retained versions only.

    ``orphan_grace_s``: a file referenced by NO committed version at all
    is either debris from a crashed write or an IN-FLIGHT write's staged
    output that has not committed yet (Spark-sink tasks stage before the
    driver's commit can take the table lock). Such files are reclaimed
    only once older than the grace window — the same recent-orphan
    protection Iceberg's orphan-file cleanup applies. Files referenced
    by a DROPPED version are garbage regardless of age.

    ``dry_run=True`` reports the reclaimable data-file count WITHOUT
    deleting anything or compacting manifest chains (the operational
    "what would VACUUM free" probe — SQL: ``VACUUM t ... DRY RUN``)."""
    if keep_versions < 1:
        raise ValueError("keep_versions must be >= 1")
    import json as _json
    import time as _time

    with REGISTRY.timer("vacuumTable"), table.lock() as lk:
        # publish the vacuum INTENT before the retention read: a
        # concurrent clone(pin=True) either lands its tag before the
        # tags() read below (files kept) or observes this marker and
        # defers its existence validation until the deletes finish
        # (table.py vacuum-intent handshake). Cleared in finally.
        table.fs.put(
            table._vacuum_intent_path,
            _json.dumps({"expires": _time.time() + table.VACUUM_INTENT_TTL}),
        )
        try:
            return _vacuum_locked(
                table, keep_versions, lk, orphan_grace_s, dry_run=dry_run
            )
        finally:
            table.fs.delete(table._vacuum_intent_path)


def _vacuum_locked(
    table: LakeTable, keep_versions: int, lk,
    orphan_grace_s: float = 3600.0, dry_run: bool = False,
) -> int:
    latest = table.current_version()
    retained: list[int] = []
    v = latest
    while v >= 0 and len(retained) < keep_versions:
        if table.has_version(v):
            retained.append(v)
        v -= 1
    # tagged snapshots are retention roots: their files and manifest
    # chains survive regardless of the keep_versions window
    retained += [
        tv for tv in set(table.tags().values())
        if tv not in retained and table.has_version(tv)
    ]
    # memoized chain resolution: the sweep below touches EVERY version
    # 0..latest, and naive table.manifest(v) re-walks each delta chain
    # from scratch — O(versions × chain length) metadata reads, all
    # under the table lock. Caching resolved manifests (bounded — delta
    # parents are always recent, so a small window covers real chains)
    # reads each segment file once across the whole sweep.
    from .table import _apply_delta

    _cache: dict[int, "Manifest"] = {}

    def _resolve(v: int) -> "Manifest":
        deltas: list[tuple[int, dict]] = []
        cur: "int | None" = v
        base_m = None
        while cur is not None:
            if cur in _cache:
                base_m = _cache[cur]
                break
            b = table._read_full_segment(cur)
            if b is not None:
                base_m = Manifest.from_dict(b)
                _cache[cur] = base_m
                break
            d = table._read_delta_segment(cur)
            if d is None:
                raise FileNotFoundError(
                    f"Version {v} of {table.name} is not resolvable: "
                    f"no full or delta segment for v{cur}"
                )
            deltas.append((cur, d))
            cur = d["parent"]
        if base_m is None:
            raise FileNotFoundError(
                f"Version {v} of {table.name} has a delta chain with no full base"
            )
        m = base_m
        for cv, dd in reversed(deltas):
            m = _apply_delta(m, dd)
            _cache[cv] = m
            while len(_cache) > 128:
                _cache.pop(next(iter(_cache)))
        return m

    # retention_files: data files + merge-on-read tombstone files — a
    # retained version's tombstones are part of its readable state
    referenced = {
        os.path.normpath(p)
        for rv in retained
        for p in _resolve(rv).retention_files()
    }
    # every resolvable version's references: a file in NO manifest at
    # all is a (possibly in-flight) orphan and gets the grace window; a
    # file referenced only by dropped versions is garbage at any age
    referenced_any = set(referenced)
    for v2 in range(latest + 1):
        if v2 not in retained and table.has_version(v2):
            try:
                referenced_any.update(
                    os.path.normpath(p) for p in _resolve(v2).retention_files()
                )
            except FileNotFoundError:
                pass  # chain already vacuumed past this version
    # chain compaction: materialize the oldest retained version as a
    # full base (resolved BEFORE any segment is deleted), so no
    # retained version's resolution chain reaches past the window —
    # then every older manifest file is droppable
    oldest = min(retained)
    if not dry_run and table._read_full_segment(oldest) is None:
        m_oldest = _resolve(oldest)
        if table.manifest_format == "binary":
            from .table import encode_segment_binary

            table.fs.put(
                os.path.join(table.meta_dir, f"v{oldest}.avro"),
                encode_segment_binary(m_oldest.to_dict()),
            )
        else:
            table.fs.put(
                os.path.join(table.meta_dir, f"v{oldest}.json"),
                m_oldest.to_json(),
            )
    keep_meta = {fn for rv in retained for fn in table.chain_filenames(rv)}
    # verify lock ownership right before the destructive phase (on the
    # cas backend the lease could have been stolen after its TTL; flock
    # is structural) — and heartbeat it through a long delete loop so a
    # 100 TB vacuum never silently outlives its lease
    lk.assert_held()
    import time as _time

    now = _time.time()
    deleted = 0
    n_seen = 0
    for rel_in_data in table.fs.walk_files(table.data_dir):
        if not rel_in_data.endswith(".parquet"):
            continue
        rel = os.path.normpath(os.path.join("data", rel_in_data))
        if rel not in referenced:
            abs_p = os.path.join(table.data_dir, rel_in_data)
            if rel not in referenced_any:
                # never committed: crashed-write debris OR an in-flight
                # write's staged output — reclaim only past the grace
                try:
                    if now - table.fs.file_mtime(abs_p) < orphan_grace_s:
                        continue
                except FileNotFoundError:
                    continue
            if not dry_run:
                table.fs.delete(abs_p)
                # bloom sidecar dies with its data file
                table.fs.delete(abs_p + ".bloom", missing_ok=True)
            deleted += 1
            n_seen += 1
            if n_seen % 200 == 0:
                lk.renew()
    # prune empty partition dirs bottom-up (no-op on object stores);
    # the grace window doubles as the empty-dir age guard — a concurrent
    # writer's staging dir is empty only for the instant between mkdir
    # and first file open, and must not be rmdir'd in that window
    if dry_run:
        return deleted
    table.fs.remove_empty_dirs(table.data_dir, min_age_s=orphan_grace_s)
    # drop manifest files outside every retained version's chain
    for fn in table.fs.list_names(table.meta_dir):
        is_manifest = fn.startswith("v") and fn.endswith((".json", ".avro"))
        if is_manifest and fn not in keep_meta:
            table.fs.delete(os.path.join(table.meta_dir, fn))
    return deleted


def dedup_rewrite(
    table: LakeTable,
    columns: list[str] | None = None,
    keep_order: list[str] | None = None,
) -> int:
    """Table-wide exact-duplicate removal as ONE versioned rewrite — the
    dedup-compaction pass of a training-data lake. Rows identical on
    ``columns`` (default: every non-system column) collapse to one
    survivor; ``keep_order`` picks it deterministically (min of those
    columns wins; default: arbitrary-but-single via row_number over the
    dedup key alone, deterministic given the key ordering below).

    Shape: one shuffle on the dedup-key hash, survivors written with the
    table's layout, untouched NOTHING — this is a full rewrite by
    design (use LakeWriter MERGE for incremental key-based dedup).
    Returns the number of duplicate rows removed. Time travel keeps the
    pre-dedup snapshot readable."""
    from ..schema.reconcile import INSERTED_AT

    # buffered inlined rows must participate in the dedup (they may BE
    # the duplicates) — flush first (lake/inline.py)
    from .inline import inline_state
    from .writer import LakeWriter

    if inline_state(table.manifest())[0]:
        LakeWriter(table, auto_create=False).flush_inlined()
    with REGISTRY.timer("dedupRewrite"), table.lock():
        m = table.manifest()
        df = table.read(include_hidden=True)
        key = columns or [
            f.name for f in m.schema.fields if f.name != INSERTED_AT
        ]
        missing = [c for c in key if c not in df.columns]
        if missing:
            raise ValueError(f"dedup_rewrite: unknown column(s) {missing}")
        order = [F.col(c).asc_nulls_last() for c in (keep_order or [])] or [
            F.col(c).asc_nulls_last() for c in key
        ]
        w = W.partitionBy(*key).orderBy(*order)
        n_before = df.count()
        survivors = (
            df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        new_files, new_stats = table.write_data_files(
            survivors, m.version + 1, layout="rebalance", manifest=m
        )
        table._commit(
            m.successor(
                "DEDUP", **m.replace_files(m.all_files(), new_files, new_stats)
            ),
            parent_manifest=m,
        )
        n_after = sum(
            int((new_stats.get(f) or {}).get("__rows") or 0)
            for fs in new_files.values()
            for f in fs
        )
        return int(n_before - n_after)
