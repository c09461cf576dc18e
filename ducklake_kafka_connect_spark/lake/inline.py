"""Data inlining: tiny commits live in the manifest, not in files.

DuckLake's small-write answer (the reference exposes it as
``data.inlining.row.limit``, ``DucklakeSinkConfig.java:39/85`` —
"maximum number of rows to inline into metadata for small files, or
'off' to disable"; DuckLake flushes with
``ducklake_flush_inlined_data()``). A trickle of 5-row CDC inserts must
not pay a Spark write job + a parquet file + a footer read each: with
``write.inlining.row.limit`` set on the table, an append whose batch is
at or under the limit commits as ONE metadata PUT — the rows ride the
manifest segment as an Arrow-IPC blob (exact type round trip: nested,
decimal, binary, timestamps all survive byte-for-byte, which a JSON
encoding would not guarantee).

Reads union the inlined rows back at the single read chokepoint
(``LakeTable.read``) and through the ``ducklake`` DataSource (an extra
input partition decodes the blobs executor-side); ``row_count`` adds
them from metadata. Inlined rows accrete across commits; the append
that would push the total past the limit FLUSHES — the accumulated
rows land in real parquet files in that same commit and the manifest's
inline buffer empties. ``FLUSH INLINED DATA t`` (SQL) /
``LakeWriter.flush_inlined()`` force it, mirroring DuckLake's call.

Operations whose semantics need rows to live in files either flush
first (MERGE / UPDATE / DELETE — one extra commit, only when a buffer
is pending) or refuse with the flush remedy (CDF ``changes()`` across a
buffer change, streaming reads, RENAME/DROP COLUMN while a buffer is
pending — the buffer stores names as-at-write, so metadata-only renames
would desynchronize it).

Scale rationale: at 100 TB the table's FILE count is what metadata and
planning scale with; inlining keeps a high-frequency low-volume writer
from ever minting the millions of kilobyte files that OPTIMIZE would
otherwise have to mop up, and the blobs are bounded (≤ limit rows) so
manifest segments stay small. The delta-segment form carries props
whole, so an inline commit is O(limit) bytes, not O(table).
"""

from __future__ import annotations

import base64

DEFAULT_INLINING_ROW_LIMIT = 10_000

#: table property that opts a table into inlining (the engine-side
#: spelling of the reference's ``data.inlining.row.limit``)
PROP = "write.inlining.row.limit"


def parse_inlining_limit(value) -> int | None:
    """``data.inlining.row.limit`` semantics
    (``DucklakeSinkConfig.java`` / ``DucklakeSinkConfigTest.java:58-88``):
    unset → the 10000 default; ``"off"`` (any case) disables → None;
    numeric strings / ints parse; anything else raises."""
    if value is None:
        return DEFAULT_INLINING_ROW_LIMIT
    if isinstance(value, bool):
        raise ValueError(f"Invalid data-inlining row limit: {value!r}")
    if isinstance(value, int):
        n = value
    else:
        s = str(value).strip()
        if s.lower() == "off":
            return None
        try:
            n = int(s)
        except ValueError:
            raise ValueError(f"Invalid data-inlining row limit: {value!r}")
    if n < 0:
        raise ValueError(f"Invalid data-inlining row limit: {value!r}")
    return n


def table_inline_limit(manifest) -> int | None:
    """The table's opt-in limit, or None when inlining is off (the
    default — unlike the connector config, a LAKE table inlines only
    when its owner set the property explicitly)."""
    raw = (manifest.props.get("tblproperties") or {}).get(PROP)
    if raw is None or str(raw).strip().lower() == "off":
        return None
    return parse_inlining_limit(raw)


def inline_state(manifest) -> tuple[list[str], int]:
    """→ (ipc blobs, total inlined rows) pending on this manifest."""
    st = manifest.props.get("inlined") or {}
    return list(st.get("ipc") or []), int(st.get("rows") or 0)


def encode_table(tbl) -> str:
    """pyarrow Table → base64 Arrow-IPC stream (schema embedded)."""
    import pyarrow as pa

    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, tbl.schema) as w:
        w.write_table(tbl)
    return base64.b64encode(sink.getvalue().to_pybytes()).decode("ascii")


def decode_blob(blob: str):
    """base64 Arrow-IPC stream → pyarrow Table."""
    import pyarrow as pa

    return pa.ipc.open_stream(base64.b64decode(blob)).read_all()


def conform_to_arrow(tbl, target):
    """Shape an inlined Table onto the target arrow schema: present
    columns cast, columns the blob predates null-fill, columns it
    postdates project away — the same rules file reads apply to old
    parquet files."""
    import pyarrow as pa

    names = set(tbl.column_names)
    cols = []
    for field in target:
        if field.name in names:
            col = tbl.column(field.name)
            if col.type != field.type:
                col = col.cast(field.type)
        else:
            col = pa.nulls(tbl.num_rows, type=field.type)
        cols.append(col)
    return pa.table(cols, schema=target)


def buffer_table(manifest, target):
    """Pending inlined rows as one pyarrow Table on the arrow schema
    ``target`` (see :func:`conform_to_arrow`), or None when the buffer
    is empty. Driver-side decode — bounded by the limit, so ≤ ~10k rows
    by construction."""
    import pyarrow as pa

    blobs, _ = inline_state(manifest)
    if not blobs:
        return None
    return pa.concat_tables([conform_to_arrow(decode_blob(b), target) for b in blobs])


def inline_rows_df(spark, manifest, schema):
    """Pending inlined rows as a DataFrame under ``schema`` (the read
    surface), or None when the buffer is empty."""
    from pyspark.sql.pandas.types import to_arrow_schema

    merged = buffer_table(manifest, to_arrow_schema(schema, timestamp_utc=True))
    if merged is None:
        return None
    # hand Spark the Arrow table directly (LocalRelation, no RDD
    # parallelize round-trip); the python-rows path stays as the
    # fallback for any arrow→catalyst mapping gap
    try:
        df = spark.createDataFrame(merged)
        if df.schema == schema:
            return df
    except Exception:
        pass
    rows = merged.to_pylist()
    return spark.createDataFrame(rows, schema=schema)


def require_no_inline(manifest, table_name: str, op: str) -> None:
    """Refuse ``op`` while an inline buffer is pending, naming the
    remedy."""
    blobs, n = inline_state(manifest)
    if blobs:
        raise ValueError(
            f"{op} on {table_name}: {n} inlined row(s) are pending in "
            f"the manifest buffer — run FLUSH INLINED DATA "
            f"{table_name} (LakeWriter.flush_inlined()) first"
        )
