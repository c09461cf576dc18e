"""One Arrow Parquet writer for the driver's Arrow append and merge
(``lake/writer.py``) and every task of the ``ducklake`` sink
(``sources/lake_datasource.py``): the same Python code on the driver or
inside a task. :func:`dir_groups` names partition dirs as Spark's
``partitionBy`` (the only other writer) names them; :class:`StagedFiles`
writes the files and harvests their stats and PK Bloom sidecars."""

from __future__ import annotations

import os
import uuid
from collections import Counter

from .partitioning import HIVE_NULL, canon_partition_value, dir_key_to_canon_tuple
from .table import _count_harvest, _harvest_one

# Hadoop's escapePathName set (what Spark's partitionBy applies to a
# partition value): these characters become %XX in the dir name
_ESCAPED = frozenset('"#%\'*/:=?\\\x7f{[]^') | {chr(c) for c in range(0x20)}


def hive_escape(s: str) -> str:
    """``s`` as a Hive dir token, escaped the way Spark's partitionBy
    escapes it (non-ASCII text stays as it is)."""
    return "".join(f"%{ord(c):02X}" if c in _ESCAPED else c for c in s)


def dir_groups(tbl, exprs, existing=()) -> dict:
    """Rows of ``tbl`` by the partition dir they land in → {dir key:
    table}. A row whose partition already has a dir among ``existing``
    keys (matched canonically) lands in it; a new dir is named as
    Spark's ``partitionBy`` names it: the value's string form,
    Hive-escaped, with NULL and ``""`` as ``__HIVE_DEFAULT_PARTITION__``.
    Rows group vectorized; a token is built once per distinct tuple."""
    import numpy as np
    import pyarrow as pa

    if not exprs:
        return {"": tbl} if tbl.num_rows else {}
    cols = [e.output_name for e in exprs]
    known: dict = {}
    for k in existing:
        known.setdefault(dir_key_to_canon_tuple(k, exprs), k)
    grouped = (
        tbl.select(cols).append_column("__row", pa.array(np.arange(tbl.num_rows)))
        .group_by(cols, use_threads=False).aggregate([("__row", "list")])
    )
    dirs: dict = {}
    values = zip(*(grouped.column(c).to_pylist() for c in cols))
    for vals, idx in zip(values, grouped.column("__row_list")):
        key = known.get(tuple(canon_partition_value(v) for v in vals))
        if key is None:
            toks = [v if isinstance(v, str) else canon_partition_value(v) for v in vals]
            key = "/".join(
                f"{e.dir_name}={hive_escape(t) if t else HIVE_NULL}"
                for e, t in zip(exprs, toks)
            )
        dirs.setdefault(key, []).append(idx.values)
    if len(dirs) == 1:
        return dict.fromkeys(dirs, tbl)
    return {k: tbl.take(pa.concat_arrays(v)) for k, v in dirs.items()}


def _thread_map(fn, items: list) -> list:
    """``map`` over ``items``, on threads when there is more than one
    (parquet encode and decode release the GIL)."""
    if len(items) <= 1:
        return [fn(x) for x in items]
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=min(8, len(items))) as ex:
        return list(ex.map(fn, items))


def _arrow_write_schema(schema, nullable: bool = False):
    """Arrow schema the Arrow writers emit: timestamps as MICROS —
    Spark reads TIMESTAMP (MICROS) everywhere, and a ns column (INT96
    files surface as ns in Arrow) written back as nanos would not
    round-trip through the engine's reader. ``nullable`` relaxes every
    field, so NULLs from a batch fit a column the target file declared
    NOT NULL."""
    import pyarrow as pa

    return pa.schema(
        [
            pa.field(
                f.name,
                pa.timestamp("us", tz=f.type.tz)
                if pa.types.is_timestamp(f.type)
                else f.type,
                nullable or f.nullable,
            )
            for f in schema
        ]
    )


def _dictionary_columns(tbl) -> list[str]:
    """Parquet leaf paths worth dictionary-encoding in ``tbl``: a flat
    column whose distinct count is at most half its rows (parquet-mr's
    fallback keeps unique columns PLAIN, which pyarrow would otherwise
    dictionary-encode at a loss), and every nested leaf (the default)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def leaves(path, t):  # pyarrow's parquet names for nested leaves
        if pa.types.is_struct(t):
            kids = [(f.name, f.type) for f in t]
        elif pa.types.is_map(t):
            kids = [("key_value.key", t.key_type), ("key_value.value", t.item_type)]
        elif pa.types.is_list(t) or pa.types.is_large_list(t):
            kids = [("list.element", t.value_type)]
        else:
            return [path]
        return [p for n, k in kids for p in leaves(f"{path}.{n}", k)]

    return [
        p
        for f in tbl.schema
        if pa.types.is_nested(f.type)
        or pc.count_distinct(tbl.column(f.name)).as_py() <= tbl.num_rows // 2
        for p in leaves(f.name, f.type)
    ]


class StagedFiles:
    """Parquet data files staged under ``stage_rel`` of ``table_dir``.
    Tables come in under LOGICAL column names and are written cast to
    µs timestamps, under PHYSICAL names (``renames``), with the table's
    codec (``tblprops``' ``write.compression``, default snappy) and
    :func:`_dictionary_columns`: one file per table on threads
    (:meth:`write`, the driver), or one open file per dir fed batch by
    batch (:meth:`append`, a sink task). :meth:`close` harvests footer
    stats on ``stat_cols`` and a Bloom sidecar on ``bloom_col`` and
    returns ({dir key: [rel file]}, {rel file: LOGICAL-name stats})."""

    def __init__(self, table_dir, stage_rel, tblprops, renames, stat_cols, bloom_col):
        self.dir, self.stage = table_dir, stage_rel
        self.codec = tblprops.get("write.compression", "snappy")
        self.ren = dict(renames)
        self.stat_cols = [self.ren.get(c, c) for c in stat_cols]
        self.bloom_col = self.ren.get(bloom_col, bloom_col) if bloom_col else None
        self.files: dict[str, list[str]] = {}
        self._open: dict = {}  # dir key -> (ParquetWriter, rel)
        self._harvested: list = []

    def _name(self, key: str) -> str:
        rel_dir = os.path.join(self.stage, key) if key else self.stage
        n = sum(map(len, self.files.values()))
        rel = os.path.join(rel_dir, f"part-{n:05d}-{uuid.uuid4().hex[:8]}.parquet")
        os.makedirs(os.path.join(self.dir, rel_dir), exist_ok=True)
        self.files.setdefault(key, []).append(rel)
        return rel

    def _physical(self, tbl):
        tbl = tbl.cast(_arrow_write_schema(tbl.schema))
        if self.ren:
            tbl = tbl.rename_columns([self.ren.get(n, n) for n in tbl.column_names])
        return tbl

    def _writer(self, rel: str, tbl):
        import pyarrow.parquet as pq

        return pq.ParquetWriter(
            os.path.join(self.dir, rel), tbl.schema, compression=self.codec,
            use_dictionary=_dictionary_columns(tbl),
        )

    def _harvest(self, rel: str):
        return (rel, *_harvest_one(os.path.join(self.dir, rel), self.stat_cols, self.bloom_col))

    def write(self, parts: "dict[str, list]") -> tuple[dict, dict]:
        """Each table of ``parts`` ({dir key: [tables]}) as one file."""

        def one(job):
            rel, tbl = job
            tbl = self._physical(tbl)
            with self._writer(rel, tbl) as w:
                w.write_table(tbl)
            return self._harvest(rel)

        jobs = [(self._name(k), t) for k, tables in parts.items() for t in tables]
        self._harvested += _thread_map(one, jobs)
        return self.close()

    def append(self, key: str, tbl) -> None:
        """Add ``tbl``'s rows to dir ``key``'s open file."""
        tbl = self._physical(tbl)
        if key not in self._open:
            rel = self._name(key)
            self._open[key] = (self._writer(rel, tbl), rel)
        self._open[key][0].write_table(tbl)

    def close(self, counts: Counter | None = None) -> tuple[dict, dict]:
        """Close and harvest; skips count in ``counts`` (a task's Counter
        for the driver), else in the metrics registry."""
        for w, _ in self._open.values():
            w.close()
        self._harvested += _thread_map(self._harvest, [r for _, r in self._open.values()])
        self._open = {}
        inv = {p: l for l, p in self.ren.items()}
        stats = {
            rel: {inv.get(c, c): v for c, v in h.items()}
            for rel, h in _count_harvest(self._harvested, counts).items()
        }
        return self.files, stats
