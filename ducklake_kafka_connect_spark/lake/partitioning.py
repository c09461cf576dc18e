"""Partition-expression mini-parser and derived-column materialization.

The reference accepts partition specs like ``year(created_at),
month(created_at), event_type`` per table
(``connect/DucklakeSinkConfig.java:365-379``) and applies them with
``ALTER TABLE … SET PARTITIONED BY`` (``ingestor/DucklakeTableManager.java:207-219``).

Spark partitions on *columns*, so temporal expressions are materialized
as hidden derived columns (prefix ``_p_``) that become hive-style
partition directories; raw column specs partition on the column itself.
Readers drop the hidden columns; Catalyst still prunes on them when a
query filters on e.g. ``year(ts)`` via the derived column.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_FN_RE = re.compile(r"^\s*(year|month|day)\s*\(\s*([A-Za-z_][A-Za-z0-9_]*)\s*\)\s*$")
_COL_RE = re.compile(r"^\s*([A-Za-z_][A-Za-z0-9_]*)\s*$")

_FNS = {"year": F.year, "month": F.month, "day": F.dayofmonth}


@dataclass(frozen=True)
class PartitionExpr:
    fn: str | None  # None for a raw column
    column: str

    @property
    def output_name(self) -> str:
        if self.fn is None:
            return self.column
        return f"_p_{self.fn}_{self.column}"

    @property
    def dir_name(self) -> str:
        """Directory-layout column: a prefixed copy consumed by
        ``partitionBy`` (removed into the hive dir name), while the real
        value stays as a data column inside each file — so reads never
        need partition discovery, and parquet footer min/max stats prune
        files on the data column."""
        if self.fn is None:
            return f"_pd_{self.column}"
        return f"_pd_{self.fn}_{self.column}"

    @property
    def is_derived(self) -> bool:
        return self.fn is not None

    def to_column(self) -> Column:
        if self.fn is None:
            return F.col(self.column)
        return _FNS[self.fn](F.col(self.column))

    def spec_string(self) -> str:
        return self.column if self.fn is None else f"{self.fn}({self.column})"


def parse_partition_exprs(spec: str | list[str] | None) -> list[PartitionExpr]:
    """Parse ``"year(c), month(c), other_col"`` → [PartitionExpr, …].

    Unknown functions / malformed entries raise ValueError (the reference
    validates partition config the same way, DucklakeSinkConfigPartitionTest).
    """
    if not spec:
        return []
    parts = spec if isinstance(spec, list) else [p for p in spec.split(",") if p.strip()]
    out: list[PartitionExpr] = []
    for p in parts:
        m = _FN_RE.match(p)
        if m:
            out.append(PartitionExpr(fn=m.group(1), column=m.group(2)))
            continue
        m = _COL_RE.match(p)
        if m:
            out.append(PartitionExpr(fn=None, column=m.group(1)))
            continue
        raise ValueError(f"Invalid partition expression: {p!r}")
    return out


def with_partition_columns(df: DataFrame, exprs: list[PartitionExpr]) -> DataFrame:
    """Materialize derived partition columns (no-op for raw columns)."""
    for e in exprs:
        if e.is_derived:
            df = df.withColumn(e.output_name, e.to_column())
    return df


def partition_column_names(exprs: list[PartitionExpr]) -> list[str]:
    return [e.output_name for e in exprs]


def derived_column_names(exprs: list[PartitionExpr]) -> list[str]:
    return [e.output_name for e in exprs if e.is_derived]


def dir_column_names(exprs: list[PartitionExpr]) -> list[str]:
    return [e.dir_name for e in exprs]


def with_dir_columns(df: DataFrame, exprs: list[PartitionExpr]) -> DataFrame:
    """Add the prefixed directory-layout copies used by partitionBy."""
    for e in exprs:
        df = df.withColumn(e.dir_name, F.col(e.output_name))
    return df


def dir_key_to_partition_tuple(part_key: str, exprs: list[PartitionExpr]) -> tuple:
    """'_pd_year_ts=2023/_pd_month_ts=1' → values ordered like exprs
    (hive null marker preserved as-is)."""
    d = {}
    if part_key:
        for seg in part_key.split("/"):
            k, _, v = seg.partition("=")
            d[k] = v
    return tuple(d.get(e.dir_name) for e in exprs)


# ---------------------------------------------------------------------------
# Canonical partition-value encoding.
#
# MERGE compares the batch's partition values (Python objects out of
# Row.asDict) against Hive directory tokens written by Spark. The two
# encodings differ: Spark writes booleans as 'true'/'false' (Python
# str(True) == 'True'), %-escapes special characters (':' → '%3A'),
# formats floats Java-style ('1.0E-7') and trims trailing zeros from
# timestamp fractions. Comparing raw strings silently missed partitions
# (old rows never rewritten → duplicate keys). Both sides therefore map
# into ONE canonical space: values via canon_partition_value, dir tokens
# via canon_partition_token. Collisions between distinct values only ever
# ADD partitions to the rewrite set (safe); a missed match is impossible
# as long as both sides use these functions.
# ---------------------------------------------------------------------------

HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"
_HIVE_ESC_RE = re.compile(r"%([0-9A-Fa-f]{2})")
_INT_RE = re.compile(r"[+-]?[0-9]+")
_FLOAT_RE = re.compile(r"[+-]?([0-9]+\.[0-9]*|\.[0-9]+|[0-9]+)([eE][+-]?[0-9]+)?")
_TS_RE = re.compile(
    r"([0-9]{4}-[0-9]{2}-[0-9]{2})[ T]([0-9]{2}:[0-9]{2}:[0-9]{2})(\.[0-9]+)?"
)


def _unescape_hive(s: str) -> str:
    return _HIVE_ESC_RE.sub(lambda m: chr(int(m.group(1), 16)), s)


def _canon_str(s: str) -> str:
    """Normalize one already-unescaped string into canonical form."""
    if s in ("true", "True", "false", "False"):
        return s.lower()
    if _INT_RE.fullmatch(s):
        return str(int(s))
    if _FLOAT_RE.fullmatch(s):
        try:
            return repr(float(s))  # parse-then-repr folds '1.0E-7' / '1e-07'
        except ValueError:
            pass
    m = _TS_RE.fullmatch(s)
    if m:
        frac = (m.group(3) or "").rstrip("0").rstrip(".")
        return f"{m.group(1)} {m.group(2)}{frac}"
    return s


def canon_partition_token(token: str | None) -> str | None:
    """Hive directory token → canonical string (None for the null marker
    and for an empty token, which older sink versions wrote for ``""``)."""
    if not token or token == HIVE_NULL:
        return None
    return _canon_str(_unescape_hive(token))


def canon_partition_value(v) -> str | None:
    """Python partition value (from Row) → canonical string (None for
    null and for ``""``: Spark writes both to the null marker's dir)."""
    import datetime

    if v is None or v == "":
        return None
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, datetime.datetime):
        s = v.strftime("%Y-%m-%d %H:%M:%S")
        if v.microsecond:
            s += (".%06d" % v.microsecond).rstrip("0")
        return s
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, int):
        return str(v)
    return _canon_str(str(v))


def dir_key_to_canon_tuple(part_key: str, exprs: list[PartitionExpr]) -> tuple:
    """Directory relpath → tuple of canonical partition values, ordered
    like ``exprs`` — the comparison-safe twin of dir_key_to_partition_tuple."""
    return tuple(
        canon_partition_token(t) for t in dir_key_to_partition_tuple(part_key, exprs)
    )
