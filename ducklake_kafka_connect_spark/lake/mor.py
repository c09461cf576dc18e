"""Merge-on-read: equality-delete tombstones + delta files.

The reference's MERGE (``ingestor/DucklakeWriter.java:143-210``) and
this engine's default merge path are copy-on-write: every file holding
a matched key is rewritten. That is the right trade at micro-batch
scale on small tables, but at 100 TB a 0.1 % CDC upsert against a wide
fact table rewrites terabytes to change megabytes. Merge-on-read is
the lakehouse-standard answer (Iceberg equality deletes, Hudi MOR,
Delta deletion vectors): a merge commits only

  * a **delta file** carrying the post-image rows of the batch, and
  * a **tombstone file** carrying just the PK columns of every key the
    batch touched,

and the *read* path reconstructs the visible snapshot by suppressing
any row whose PK appears in a tombstone written **after** the row's
file. Write cost becomes O(batch), independent of table width and of
how many files hold the matched keys. ``OPTIMIZE`` (compaction)
materializes the debt back into plain files.

Data model — everything rides ``Manifest.props["mor"]`` (the same
whole-traveling channel as ``column_renames``, so delta segments and
binary manifests need no serialization change)::

    props["mor"] = {
      "seq":     {<data-file relpath>: <version it was committed at>},
      "deletes": {<tombstone relpath>: {"seq": v, "rows": n, "bytes": b}},
    }

Visibility rule: a row in file ``f`` is visible iff no tombstone ``t``
with ``seq(t) > seq(f)`` contains the row's PK, where ``seq(f)``
defaults to 0 for files that predate the first merge-on-read commit.
A tombstone therefore suppresses exactly the row versions older than
itself, and the delta file committed alongside it (same seq) is never
self-suppressed. ``m.files`` keeps listing data files only, so every
existing manifest consumer (pruning, stats, row counts, the Python
DataSource) stays correct by construction; tombstones live in their
own map.

Lifecycle invariants, enforced at the single commit chokepoint
(:func:`commit_adjust`, called from ``LakeTable._commit``):

  * every file ADDED while tombstones exist is stamped with the
    committing version (an append after a tombstone must not be
    suppressed by it) — no write path can forget, because all of them
    commit through ``_commit``;
  * tombstones that can no longer suppress anything (every live file's
    seq ≥ the tombstone's) are dropped from the map, so a full rewrite
    (OPTIMIZE / INSERT OVERWRITE / TRUNCATE / dedup_rewrite) clears
    merge-on-read state as a side effect and vacuum reclaims the
    orphaned tombstone files;
  * RESTORE carries the restored version's state verbatim
    (``mor_preserve``) — re-stamping restored base files would
    un-suppress rows the restored tombstones must keep hidden.

Scale shape of the read: data files are scanned in one branch per
distinct seq (one per un-compacted merge — bounded by the
auto-materialize threshold), unioned, and anti-joined against the
tombstone set on PK. Tombstones are PK-only and broadcast below
``MOR_BROADCAST_BYTES``, so the 100 TB base scan streams through a
broadcast hash anti-join with no shuffle; above it the anti-join
shuffles both sides on PK, which is the same cost Iceberg pays to
apply equality deletes at that cardinality.
"""

from __future__ import annotations

import os
from functools import lru_cache, reduce
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, functions as F

from ..metrics import REGISTRY

if TYPE_CHECKING:  # pragma: no cover
    from .table import LakeTable, Manifest

# hidden column names used inside the visibility join (never escape it)
MOR_SEQ = "__mor_seq"
MOR_TSEQ = "__mor_tseq"

# tombstone union broadcast cap: PK-only rows, so 32 MB ≈ millions of
# keys — past that the anti-join degrades to a shuffle join gracefully
MOR_BROADCAST_BYTES = 32 * 1024 * 1024

# auto-materialize once this many tombstone files accumulate (each is
# one un-compacted merge): bounds read amplification AND the per-commit
# props metadata the seq/deletes maps carry through delta segments
MOR_AUTO_MATERIALIZE_DELETES = 48

TBLPROP_MERGE_MODE = "write.merge.mode"
MODE_COW = "copy-on-write"
MODE_MOR = "merge-on-read"


@lru_cache(maxsize=4096)
def _footer_schema(path: str):
    """Driver-side parquet footer schema, memoized per absolute path —
    lake files are immutable (uuid-named, never rewritten in place), so
    a path's schema never changes while it exists."""
    import pyarrow.parquet as pq

    from pyspark.sql.pandas.types import from_arrow_schema

    return from_arrow_schema(pq.read_schema(path))


def mor_state(m: "Manifest") -> tuple[dict[str, int], dict[str, dict]]:
    """(seq map, deletes map) from a manifest; ({}, {}) when inactive."""
    s = m.props.get("mor") or {}
    seq = {str(k): int(v) for k, v in (s.get("seq") or {}).items()}
    deletes = {
        str(k): {"seq": int(v["seq"]), **{a: v[a] for a in ("rows", "bytes") if a in v}}
        for k, v in (s.get("deletes") or {}).items()
    }
    return seq, deletes


def resolve_merge_mode(m: "Manifest", override: str | None = None) -> str:
    """Writer-arg override > table property > copy-on-write default."""
    mode = override or m.props.get("tblproperties", {}).get(
        TBLPROP_MERGE_MODE, MODE_COW
    )
    if mode not in (MODE_COW, MODE_MOR):
        raise ValueError(
            f"unknown {TBLPROP_MERGE_MODE} {mode!r} "
            f"(expected {MODE_COW!r} or {MODE_MOR!r})"
        )
    return mode


def _tombstone_frame(
    table: "LakeTable", m: "Manifest", deletes: dict[str, dict],
    prefix: str = "__t_",
) -> tuple[DataFrame, list[str], bool]:
    """Union of tombstone files as (prefixed physical pk cols, MOR_TSEQ).
    Returns (frame, physical pk names, is_broadcastable). PK columns are
    cast to the CURRENT physical pk types so a widening after the
    tombstone was written still compares correctly."""
    from .table import to_physical_schema

    ren = m.column_renames
    pk_phys = [ren.get(c, c) for c in m.pk]
    phys_types = {
        ren.get(f.name, f.name): f.dataType
        for f in to_physical_schema(m.schema).fields
    }
    # ONE schema'd relation per distinct (file schema, merge seq) instead
    # of one footer-inferring read per tombstone file: each un-schema'd
    # spark.read.parquet costs a JVM schema-discovery pass, and hot
    # metadata paths (changes(), every MOR read) build this frame per
    # call. Footers are read driver-side via pyarrow (sub-ms on the
    # pk-only files); files group by pk schema so a pk widened AFTER
    # some tombstones were written still reads each file at its own
    # stored type. Grouping ALSO by seq keeps MOR_TSEQ a per-group
    # literal — an earlier file_path→seq map over _metadata cost a
    # per-row regexp plus an O(files) map scan on every evaluation of
    # the frame, which regressed MOR reads 1.6–2.5× at the bench scale.
    groups: dict[tuple[str, int], tuple[T.StructType, int, list[str]]] = {}
    total_bytes = 0
    for tf, meta in sorted(deletes.items()):
        absp = os.path.join(table.dir, tf)
        sch = _footer_schema(absp)
        seq = int(meta["seq"])
        key = (sch.json(), seq)
        groups.setdefault(key, (sch, seq, []))[2].append(tf)
        total_bytes += int(meta.get("bytes") or 0)
    from .relation_cache import schema_relation

    parts = []
    for sch, seq, rels in groups.values():
        t = schema_relation(
            table.spark, sch, [os.path.join(table.dir, r) for r in rels]
        )
        t = t.select(
            *[
                F.col(p).cast(phys_types[p]).alias(prefix + p)
                for p in pk_phys
            ],
            F.lit(seq).cast("int").alias(MOR_TSEQ),
        )
        parts.append(t)
    tomb = reduce(lambda a, b: a.unionByName(b), parts)
    return tomb, pk_phys, total_bytes <= MOR_BROADCAST_BYTES


def read_visible(
    table: "LakeTable",
    m: "Manifest",
    rel_files: list[str],
    schema=None,
) -> DataFrame:
    """``spark.read.parquet`` over an explicit file list with tombstone
    visibility applied. Physical column names (same contract as a raw
    schema'd read — callers run ``to_logical_names`` after). Zero
    overhead when the manifest has no merge-on-read state: one branch,
    no extra columns, no join."""
    from .relation_cache import empty_relation, schema_relation

    schema = schema if schema is not None else table.read_schema(m)
    if not rel_files:
        return empty_relation(table.spark, schema)
    seq_map, deletes = mor_state(m)

    def absp(fs):
        return [os.path.join(table.dir, f) for f in fs]

    if not deletes:
        return schema_relation(table.spark, schema, absp(rel_files))
    if MOR_SEQ in schema.fieldNames():
        raise ValueError(
            f"column name {MOR_SEQ!r} is reserved on merge-on-read tables"
        )
    # one scan branch per distinct seq (bounded by the auto-materialize
    # threshold); filters/pruning push into each branch independently
    groups: dict[int, list[str]] = {}
    for f in rel_files:
        groups.setdefault(int(seq_map.get(f, 0)), []).append(f)
    branches = [
        schema_relation(table.spark, schema, absp(fs))
        .withColumn(MOR_SEQ, F.lit(s))
        for s, fs in sorted(groups.items())
    ]
    df = reduce(lambda a, b: a.unionByName(b), branches)
    tomb, pk_phys, small = _tombstone_frame(table, m, deletes)
    if small:
        tomb = F.broadcast(tomb)
    cond = reduce(
        lambda a, b: a & b,
        [df[p] == tomb["__t_" + p] for p in pk_phys],
    ) & (tomb[MOR_TSEQ] > df[MOR_SEQ])
    return df.join(tomb, cond, "left_anti").drop(MOR_SEQ)


# tombstone batches at or under this optimizer estimate are evaluated
# with ONE driver-side Arrow job and written in-process (same shape as
# the writer's small-append Arrow path) — ~5× less wall-clock than a
# repartition(1) Spark write for micro-batch key sets
TOMB_ARROW_MAX_BYTES = 16 * 1024 * 1024


def write_tombstones(
    table: "LakeTable",
    keys: DataFrame,
    m: "Manifest",
    version_hint: int,
) -> tuple[str, dict]:
    """Write a PK-only tombstone file under the table's data dir (so
    vacuum's orphan sweep and grace window govern it like any staged
    write) and return (relpath, {"seq"/"rows"/"bytes"}). ``keys``
    carries LOGICAL pk columns; files always store PHYSICAL names."""
    import uuid

    import pyarrow.parquet as pq

    ren = m.column_renames
    out = keys.select(*[F.col(c).alias(ren.get(c, c)) for c in m.pk])
    stage_rel = os.path.join("data", f"d{version_hint}-{uuid.uuid4().hex[:8]}")
    stage_abs = os.path.join(table.dir, stage_rel)
    # the optimizer's size estimate (no Spark job)
    est = int(out._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    rel = None
    if est <= TOMB_ARROW_MAX_BYTES:
        try:
            batch = out.toArrow()  # the one Spark job
            rel = os.path.join(stage_rel, "tombstones.parquet")
            abs_p = os.path.join(table.dir, rel)
            table.fs.ensure_dir(stage_abs)
            pq.write_table(batch, abs_p, compression="snappy")
        except Exception:
            # a counted fallback: Spark writes the keys below
            REGISTRY.inc("mor.tombstoneFallback.error")
            rel = None
    if rel is None:
        out.repartition(1).write.mode("overwrite").parquet(stage_abs)
        rel = next(
            os.path.join(stage_rel, r)
            for r in table.fs.walk_files(stage_abs)
            if r.endswith(".parquet")
        )
        abs_p = os.path.join(table.dir, rel)
    meta = pq.ParquetFile(abs_p).metadata
    return rel, {
        "seq": int(version_hint),
        "rows": int(meta.num_rows),
        "bytes": int(os.path.getsize(abs_p)) if os.path.exists(abs_p) else 0,
    }


def commit_adjust(parent: "Manifest | None", child: "Manifest") -> None:
    """The single commit chokepoint (called from ``LakeTable._commit``):
    stamp files added while merge-on-read state is active with the
    committing version, GC seq entries for files that left the manifest,
    and drop tombstones that no longer suppress anything (min live seq
    caught up). Mutates ``child.props`` in place before serialization.
    ``props["mor_preserve"]`` (set by RESTORE) skips adjustment for one
    commit — restored files must keep their restored-state stamps."""
    props = child.props
    if props.pop("mor_preserve", None):
        return
    s = props.get("mor") or {}
    seq = {str(k): int(v) for k, v in (s.get("seq") or {}).items()}
    deletes = dict(s.get("deletes") or {})
    if not seq and not deletes:
        props.pop("mor", None)
        return
    child_files = set(child.all_files())
    parent_files = set(parent.all_files()) if parent is not None else set()
    for f in child_files - parent_files:
        if f not in seq:
            seq[f] = child.version
    seq = {f: v for f, v in seq.items() if f in child_files}
    min_seq = min((seq.get(f, 0) for f in child_files), default=None)
    if min_seq is None:
        deletes = {}
    else:
        deletes = {
            tf: mv for tf, mv in deletes.items() if int(mv["seq"]) > min_seq
        }
    if not deletes:
        # no tombstone can suppress anything → the whole state retires.
        # Seq stamps are only needed to protect files committed AFTER a
        # live tombstone; files that merely predate a FUTURE tombstone
        # default to seq 0, and suppression of older rows by a newer
        # tombstone is always the intended semantics.
        props.pop("mor", None)
        return
    props["mor"] = {"seq": seq, "deletes": deletes}


def remap_for_clone(
    src: "Manifest", path_map: dict[str, str]
) -> dict | None:
    """Clone-side rewrite of the mor props: data-file seq keys follow
    the clone's path mapping; tombstone entries are remapped by the same
    map (the clone collector copies/abs-refs them alongside data
    files). Returns the new props dict or None when inactive."""
    seq, deletes = mor_state(src)
    if not seq and not deletes:
        return None
    return {
        "seq": {path_map.get(f, f): v for f, v in seq.items()},
        "deletes": {path_map.get(f, f): v for f, v in deletes.items()},
    }
