"""Materialized views with incremental (CDF-driven) refresh.

A materialized view here IS a lake table — pk = the GROUP BY columns,
content = the aggregate, definition + last-refreshed base version in
TBLPROPERTIES — so every table capability (time travel, tags, SQL,
clone, the DataSource) applies to MVs for free. What this module adds
is *maintenance*:

  * ``CREATE MATERIALIZED VIEW mv AS SELECT g, sum(x) AS s,
    count(*) AS n FROM t [WHERE p] GROUP BY g`` materializes the
    aggregate against a PINNED base snapshot and records
    ``(base, base_version, query)``;
  * ``REFRESH MATERIALIZED VIEW mv`` reads the base's change feed
    between the recorded version and the tip (``LakeTable.changes``,
    preimages mode), folds each change row in with sign +1
    (insert / update_postimage) or −1 (delete / update_preimage),
    aggregates the signed deltas per group — a frame the size of the
    CHURN, not the base — and MERGEs it into the view (groups whose
    maintained ``count(*)`` reaches zero are deleted via the merge's
    tombstone channel). Refresh cost is O(changed rows), which is the
    whole point at 100 TB: a nightly 0.1 % upsert refreshes the view by
    touching 0.1 % of the data. ``REFRESH ... FULL`` recomputes from
    scratch (the escape hatch, and the upgrade path after schema
    changes).

Supported aggregate forms — the self-maintainable ring (the classic IVM
result): ``sum(<expr>)``, ``count(*)``, ``count(<expr>)``, and
``avg(<expr>)`` as sugar (decomposed at CREATE into a maintained
``<alias>__sum`` / ``<alias>__cnt`` pair; the public column is
re-derived from the folded pair each refresh, NULL when the group holds
no non-null values — so avg is exact under deletes, unlike a naive
"fold the average" scheme). A ``count(*)`` column is REQUIRED (group
liveness is undecidable without it — real IVM systems carry the same
hidden count). ``min(<expr>)`` / ``max(<expr>)`` are supported via
TOUCHED-GROUP REPAIR (r13): inserts fold cheaply (min can only shrink:
``least(current, batch-min)``), but a delete can raise a min, so groups
the change feed deleted from are recomputed exactly from the pinned
base snapshot — a scan semi-joined to only those (churn-bounded) group
keys, manifest-pruned via an IN predicate when the single group key has
≤256 touched values (partition-aligned group keys then pay only their
own partitions). Writing min/max into the definition is the opt-in to
that repair cost; sum/count/avg-only views never pay it. ``sum`` is
maintained
0-seeded: a live group whose every value is NULL reports 0 where a
from-scratch aggregate reports NULL — documented divergence, avoided
entirely by non-null measures (avg does NOT inherit it: its hidden sum
is 0-seeded in both paths and the public column keys off the count).
Definitions are single-base GROUP BY, optionally STAR-joined to any
number of broadcast dimensions (r14): ``SELECT ... FROM fact JOIN d1
ON fact.k1 = d1.k JOIN d2 ON fact.k2 = d2.k [WHERE ...] GROUP BY
...`` — every join binds the BASE to one dim on one equality (star,
not snowflake). Fact-side churn folds incrementally through the dim
snapshots PINNED at the last refresh (pre- and post-images join to
identical attributes, so signed folding commutes; inner joins mirror
the full recompute's null-key drops). Any dim change — which silently
re-maps attributes of fact rows already folded — refuses the
incremental path with a REFRESH FULL remedy: the honest boundary,
since no churn-sized fold exists for it. General join views (dim-to-
dim, non-equality, aliased self-joins) remain out of scope (the
standard IVM restriction; SHOW CREATE TABLE on the MV states it).

Reference anchor: the reference exposes its tables to DuckDB for
exactly this kind of derived rollup (`DucklakeTableManager.java:161-164`
registers tables for SQL); the MV layer makes the rollup a maintained
artifact instead of a re-run query.

Consistency: the refresh MERGE commits the new ``mv.base_version`` in
the SAME manifest commit as the data (``LakeWriter.extra_commit_props``),
so a crash can never leave the version marker ahead of or behind the
applied deltas — replays re-derive from the recorded version
idempotently.
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass

from pyspark.sql import DataFrame, functions as F

from .table import _IDENT, quote_ident, split_top_level, unquote_ident
from .writer import LakeWriter

PROP_QUERY = "mv.query"
PROP_BASE = "mv.base"
PROP_BASE_VERSION = "mv.base_version"
PROP_DIM_VERSION = "mv.dim_version"

_AGG_RE = re.compile(
    r"^(sum|count|avg|min|max)\s*\((.+)\)\s+AS\s+(" + _IDENT + r")\s*$",
    re.IGNORECASE | re.DOTALL,
)
_DEF_RE = re.compile(
    r"^SELECT\s+(?P<items>.+?)\s+FROM\s+(?P<base>" + _IDENT + r")"
    r"(?P<joins>(?:\s+JOIN\s+.+?)*?)"
    r"(?:\s+WHERE\s+(?P<where>.+?))?"
    r"\s+GROUP\s+BY\s+(?P<groups>.+)$",
    re.IGNORECASE | re.DOTALL,
)
# each star join is ONE qualified equality: JOIN d ON x.a = y.b
_JOIN_RE = re.compile(
    r"\s*JOIN\s+(" + _IDENT + r")\s+ON\s+"
    r"(" + _IDENT + r")\s*\.\s*(" + _IDENT + r")\s*=\s*"
    r"(" + _IDENT + r")\s*\.\s*(" + _IDENT + r")\s*",
    re.IGNORECASE,
)


@dataclass
class MvDef:
    base: str
    where: str | None
    groups: list[str]
    # (kind, expr, alias): kind in {"sum", "count_star", "count", "avg"}
    aggs: list[tuple[str, str, str]]
    count_alias: str
    query: str
    # star-join extension (r14): broadcast dimensions, each joined to
    # the BASE on a single equality (star, not snowflake). Fact-side
    # churn folds through the PINNED dim snapshots; any dim change
    # refuses incremental (FULL remedy) — a dim update re-maps fact
    # rows already folded under the old attributes.
    dims: "list[tuple[str, str, str]]" = None  # (dim, base_col, dim_col)

    def __post_init__(self):
        if self.dims is None:
            self.dims = []

    def maintained(self) -> list[tuple[str, str, str]]:
        """The self-maintainable column ring the refresh folds: avg is
        sugar — it decomposes into a maintained sum (``a__sum``) and
        count (``a__cnt``), and the public ``a`` is re-derived from the
        folded pair each refresh (classic IVM avg maintenance)."""
        out: list[tuple[str, str, str]] = []
        for kind, expr, alias in self.aggs:
            if kind == "avg":
                out.append(("avg_sum", expr, f"{alias}__sum"))
                out.append(("avg_cnt", expr, f"{alias}__cnt"))
            else:
                out.append((kind, expr, alias))
        return out

    def derived(self) -> list[tuple[str, str, str]]:
        """(public alias, sum alias, cnt alias) per avg column."""
        return [
            (a, f"{a}__sum", f"{a}__cnt")
            for kind, _, a in self.aggs
            if kind == "avg"
        ]

    def needs_repair(self) -> bool:
        """min/max are not self-maintainable under deletes: refresh
        re-scans (only) the groups the change feed DELETED from — the
        classic IVM repair. A definition without min/max never pays it."""
        return any(kind in ("min", "max") for kind, _, _ in self.aggs)


def parse_mv_query(query: str) -> MvDef:
    q = query.strip().rstrip(";").strip()
    m = _DEF_RE.match(q)
    if not m:
        raise ValueError(
            "materialized view definition must be "
            "'SELECT <group cols + aggregates> FROM <table> [WHERE p] "
            f"GROUP BY <cols>', got: {q!r}"
        )
    groups = [unquote_ident(g.strip()) for g in split_top_level(m.group("groups"))]
    aggs: list[tuple[str, str, str]] = []
    seen_groups: list[str] = []
    count_alias = None
    for item in split_top_level(m.group("items")):
        item = item.strip()
        am = _AGG_RE.match(item)
        if am:
            fn = am.group(1).lower()
            inner = am.group(2).strip()
            alias = unquote_ident(am.group(3))
            if fn == "count" and inner == "*":
                aggs.append(("count_star", "*", alias))
                count_alias = count_alias or alias
            elif fn == "count":
                aggs.append(("count", inner, alias))
            elif fn in ("avg", "min", "max"):
                if inner == "*":
                    raise ValueError(f"{fn}(*) is not a thing")
                aggs.append((fn, inner, alias))
            else:
                aggs.append(("sum", inner, alias))
            continue
        name = unquote_ident(item)
        if name in groups:
            seen_groups.append(name)
            continue
        low = item.lower()
        if re.match(r"^(stddev|var)\s*\(", low):
            raise ValueError(
                f"materialized views maintain sum/count/avg incrementally "
                f"and min/max via touched-group repair; got {item!r} — "
                f"use a plain query for the rest"
            )
        raise ValueError(
            f"unsupported select item {item!r} in materialized view "
            f"(group column, sum(expr) AS a, count(*) AS a, or "
            f"count(expr) AS a)"
        )
    if sorted(seen_groups) != sorted(groups):
        raise ValueError(
            f"materialized view must select every GROUP BY column "
            f"(groups {groups}, selected {seen_groups})"
        )
    if count_alias is None:
        raise ValueError(
            "materialized view requires a count(*) AS <alias> column — "
            "group liveness under deletes is undecidable without it"
        )
    if not aggs:
        raise ValueError("materialized view needs at least one aggregate")
    d_probe = MvDef(
        base="", where=None, groups=groups, aggs=aggs,
        count_alias=count_alias, query="",
    )
    phys = groups + [a for _, _, a in d_probe.maintained()] + [
        a for kind, _, a in aggs if kind == "avg"
    ]
    dupes = {c for c in phys if phys.count(c) > 1}
    if dupes:
        raise ValueError(
            f"materialized view column collision: {sorted(dupes)} (avg "
            f"columns also reserve <alias>__sum and <alias>__cnt)"
        )
    base_name = unquote_ident(m.group("base"))
    dims: list[tuple[str, str, str]] = []
    joins_text = m.group("joins") or ""
    pos = 0
    while pos < len(joins_text.rstrip()):
        jm = _JOIN_RE.match(joins_text, pos)
        if not jm:
            raise ValueError(
                "materialized view JOINs must each be a single qualified "
                "equality against the base table: JOIN <dim> ON "
                f"<base>.<col> = <dim>.<col>; got {joins_text[pos:]!r}"
            )
        dim = unquote_ident(jm.group(1))
        lt, lc, rt, rc = (unquote_ident(jm.group(i)) for i in (2, 3, 4, 5))
        sides = {lt.lower(): lc, rt.lower(): rc}
        if set(sides) != {base_name.lower(), dim.lower()}:
            raise ValueError(
                f"materialized view ON clause must reference "
                f"{base_name!r} and {dim!r} exactly once each (star, not "
                f"snowflake), got {lt!r} = {rt!r}"
            )
        if any(d == dim for d, _, _ in dims):
            raise ValueError(
                f"materialized view joins dim {dim!r} twice — alias-free "
                f"star joins need distinct dim tables"
            )
        dims.append((dim, sides[base_name.lower()], sides[dim.lower()]))
        pos = jm.end()
    return MvDef(
        base=base_name,
        where=(m.group("where") or "").strip() or None,
        groups=groups,
        aggs=aggs,
        count_alias=count_alias,
        query=q,
        dims=dims,
    )


def _agg_cols(d: MvDef) -> list:
    cols = []
    for kind, expr, alias in d.maintained():
        if kind == "count_star":
            cols.append(F.count(F.lit(1)).cast("long").alias(alias))
        elif kind == "count":
            cols.append(F.count(F.expr(expr)).cast("long").alias(alias))
        elif kind == "avg_sum":
            # 0-seeded (coalesce) so FULL and incremental store the SAME
            # hidden sum on all-NULL groups; the public avg is NULL there
            # either way (cnt = 0)
            cols.append(
                F.sum(F.coalesce(F.expr(expr), F.lit(0))).alias(alias)
            )
        elif kind == "avg_cnt":
            cols.append(F.count(F.expr(expr)).cast("long").alias(alias))
        elif kind == "min":
            cols.append(F.min(F.expr(expr)).alias(alias))
        elif kind == "max":
            cols.append(F.max(F.expr(expr)).alias(alias))
        else:
            cols.append(F.sum(F.expr(expr)).alias(alias))
    return cols


def _with_derived(df: DataFrame, d: MvDef) -> DataFrame:
    """Append the public avg columns, re-derived from the maintained
    sum/cnt pair: NULL when the group has no non-null values."""
    for pub, s, c in d.derived():
        df = df.withColumn(
            pub,
            F.when(
                F.col(c) > 0,
                F.col(s).cast("double") / F.col(c).cast("double"),
            ),
        )
    return df


def _guard_null_groups(df: DataFrame, groups: list[str], ctx: str) -> None:
    cond = None
    for g in groups:
        c = F.col(g).isNull()
        cond = c if cond is None else (cond | c)
    if df.filter(cond).limit(1).count() > 0:
        raise ValueError(
            f"{ctx}: NULL in GROUP BY column(s) {groups} — the view's "
            f"merge identity is its group key, which must be non-null "
            f"(filter or coalesce the key in the definition)"
        )


def _apply_dim_join(cat, d: MvDef, df: DataFrame, dim_versions: dict) -> DataFrame:
    """Inner-join the fact frame to every PINNED dim snapshot
    (broadcast — the star-schema assumption this extension is scoped
    to). Each dim's join column and system columns drop after its join
    so items/WHERE see base + dim attribute columns unqualified."""
    from ..schema.reconcile import INSERTED_AT

    for i, (dim, bcol, dcol) in enumerate(d.dims):
        dim_df = cat.table(dim).read(version=dim_versions[dim])
        if INSERTED_AT in dim_df.columns:
            dim_df = dim_df.drop(INSERTED_AT)
        overlap = (set(dim_df.columns) - {dcol}) & set(df.columns)
        if overlap:
            raise ValueError(
                f"materialized view join: dim {dim!r} columns "
                f"{sorted(overlap)} collide with fact/other-dim columns — "
                f"rename them in the dim table"
            )
        jk = f"__mv_dim_jk_{i}"
        dim_df = dim_df.withColumnRenamed(dcol, jk)
        df = df.join(
            F.broadcast(dim_df), F.col(quote_ident(bcol)) == F.col(jk),
            "inner",
        ).drop(jk)
    return df


def _full_frame(cat, d: MvDef, version: int, dim_versions: "dict | None" = None) -> DataFrame:
    base = cat.table(d.base)
    df = base.read(version=version)
    if d.dims:
        df = _apply_dim_join(cat, d, df, dim_versions)
    if d.where:
        df = df.filter(d.where)
    _guard_null_groups(df.select(*d.groups), d.groups, f"materialize {d.base}")
    out = df.groupBy(*[F.col(g) for g in d.groups]).agg(*_agg_cols(d))
    return _with_derived(out, d)


def _writer(cat, name: str, d: MvDef) -> LakeWriter:
    # An MV small enough for the driver-side Arrow merge refreshes in
    # ONE Spark job — dead groups are tombstones there too (a winning
    # tombstone deletes its key), identical row semantics to the pruning
    # merge's anti-join. Larger MVs take the pruning merge
    # automatically, so the scale story is unchanged.
    return LakeWriter(cat.table(name), pk=list(d.groups))


def create_materialized_view(
    cat, name: str, query: str, replace: bool = False
) -> int:
    """CREATE MATERIALIZED VIEW: materialize against the base's CURRENT
    version (pinned — a concurrent base write after the pin simply waits
    for the first refresh) and record the definition."""
    d = parse_mv_query(query)
    t = cat.table(name)
    if t.exists() and not replace:
        raise ValueError(f"table {name!r} already exists")
    if t.exists() and replace and PROP_QUERY not in t.properties():
        # OR REPLACE must not clobber a plain data table of the same
        # name — only an existing materialized view is replaceable
        raise ValueError(
            f"CREATE OR REPLACE MATERIALIZED VIEW {name!r}: existing "
            f"table is not a materialized view (DROP TABLE it explicitly "
            f"if you really mean to replace it)"
        )
    base = cat.table(d.base)
    if not base.exists():
        raise ValueError(f"materialized view base {d.base!r} does not exist")
    dim_vs: "dict[str, int]" = {}
    for dim, _, _ in d.dims:
        dimt = cat.table(dim)
        if not dimt.exists():
            raise ValueError(f"materialized view dim {dim!r} does not exist")
        dim_vs[dim] = dimt.current_version()
    v = base.current_version()
    frame = _full_frame(cat, d, v, dim_versions=dim_vs)
    marker = {
        PROP_QUERY: d.query,
        PROP_BASE: d.base,
        PROP_BASE_VERSION: str(v),
    }
    if dim_vs:
        marker[PROP_DIM_VERSION] = json.dumps(dim_vs, sort_keys=True)
    if t.exists():
        # replace is two commits (schema reset, then data). The marker
        # rides the FIRST commit too, so a crash in between leaves an
        # empty-but-marked MV: re-running CREATE OR REPLACE (or REFRESH
        # FULL) recovers, and the not-an-MV guard above still protects
        # plain data tables.
        t.replace(frame.schema, pk=list(d.groups),
                  props={"tblproperties": dict(marker)})
    w = _writer(cat, name, d)
    w.extra_commit_props = {"tblproperties": marker}
    w.write(frame)
    return cat.table(name).current_version()


def refresh_materialized_view(cat, name: str, full: bool = False) -> dict:
    """REFRESH MATERIALIZED VIEW: fold the base's change feed since the
    recorded version into the view (one MERGE, churn-sized), or
    recompute from scratch with ``full=True``. Returns a status dict."""
    t = cat.table(name)
    props = t.properties()
    if PROP_QUERY not in props:
        raise ValueError(f"{name!r} is not a materialized view")
    d = parse_mv_query(props[PROP_QUERY])
    base = cat.table(d.base)
    from_v = int(props[PROP_BASE_VERSION])
    to_v = base.current_version()
    dims_from: "dict[str, int]" = {}
    dims_to: "dict[str, int]" = {}
    if d.dims:
        dims_from = {
            k: int(v) for k, v in json.loads(props[PROP_DIM_VERSION]).items()
        }
        dims_to = {
            dim: cat.table(dim).current_version() for dim, _, _ in d.dims
        }
        changed = sorted(
            dim for dim, v in dims_to.items() if dims_from.get(dim) != v
        )
        if changed and not full:
            # a dim change re-maps attributes of fact rows ALREADY folded
            # under the old dim snapshot — no churn-sized fold exists for
            # that (it would require re-reading every fact row whose dim
            # key changed attributes), so incremental refuses honestly
            raise ValueError(
                f"refresh {name!r}: dim table(s) {changed} changed; "
                f"fact-side churn folds incrementally but dim changes "
                f"re-map already-folded rows — run REFRESH MATERIALIZED "
                f"VIEW {name} FULL"
            )
    if to_v == from_v and dims_to == dims_from and not full:
        return {"view": name, "mode": "noop", "from": from_v, "to": to_v}
    marker = {
        "tblproperties": {
            **props,
            PROP_BASE_VERSION: str(to_v),
            **(
                {PROP_DIM_VERSION: json.dumps(dims_to, sort_keys=True)}
                if d.dims
                else {}
            ),
        }
    }
    if full:
        frame = _full_frame(cat, d, to_v, dim_versions=dims_to)
        w = _writer(cat, name, d)
        w.extra_commit_props = marker
        w.overwrite(frame)
        return {"view": name, "mode": "full", "from": from_v, "to": to_v}
    # base-evolution guard (r14, VERDICT r13 #4): a REPLACE'd base is a
    # DISJOINT history — its change-feed span diff would fold "delete
    # everything, insert the new content" through aggregates whose
    # stored state was derived under the OLD schema/semantics (and a
    # REPLACE may change columns, pk, even the meaning of the measure).
    # Refuse with the FULL remedy instead of silently folding.
    # props travel whole in delta segments, so each version's own
    # segment answers last_op WITHOUT a chain resolve — O(span) tiny
    # metadata reads, not O(span × chain)
    for v in range(from_v + 1, to_v + 1):
        seg = base._read_delta_segment(v) or base._read_full_segment(v)
        if seg is None:
            continue
        if str((seg.get("props") or {}).get("last_op") or "") == "REPLACE":
            raise ValueError(
                f"refresh {name!r}: base table {d.base!r} was REPLACE'd "
                f"at v{v} (history is disjoint across a REPLACE) — run "
                f"REFRESH MATERIALIZED VIEW {name} FULL to re-initialize "
                f"from the current base"
            )
    ch = base.changes(from_v, to_v, preimages=True)
    sign = (
        F.when(F.col("_change_type").isin("insert", "update_postimage"), 1)
        .when(F.col("_change_type").isin("delete", "update_preimage"), -1)
        .otherwise(0)
    )
    ch = ch.withColumn("__sign", sign)
    if d.dims:
        # fact churn folds through the PINNED dim snapshots (== current,
        # the guard above refused otherwise): pre- and post-images join
        # to identical dim attributes, so signed folding still commutes.
        # Inner joins also mirror the full recompute: fact rows with no
        # dim match contribute nothing, in both directions.
        ch = _apply_dim_join(cat, d, ch, dims_from)
    if d.where:
        # row-level predicates commute with signed folding: a pre-image
        # that matched contributes -1, a post-image that matches +1
        ch = ch.filter(d.where)
    delta_cols = []
    for kind, expr, alias in d.maintained():
        if kind == "count_star":
            delta_cols.append(F.sum(F.col("__sign")).cast("long").alias(alias))
        elif kind in ("count", "avg_cnt"):
            delta_cols.append(
                F.sum(
                    F.when(F.expr(expr).isNotNull(), F.col("__sign")).otherwise(0)
                ).cast("long").alias(alias)
            )
        elif kind == "min":
            # fold path sees only insert-side rows (delete-touched groups
            # are routed to repair below): min can only shrink
            delta_cols.append(
                F.min(F.when(F.col("__sign") == 1, F.expr(expr))).alias(alias)
            )
        elif kind == "max":
            delta_cols.append(
                F.max(F.when(F.col("__sign") == 1, F.expr(expr))).alias(alias)
            )
        else:  # sum / avg_sum fold identically (avg_sum is 0-seeded too)
            delta_cols.append(
                F.sum(F.col("__sign") * F.coalesce(F.expr(expr), F.lit(0))).alias(alias)
            )
    # r14 optimization (guide §2.4 "remove shuffles/passes outright",
    # §5 caching): the change feed is the refresh's expensive input —
    # a file-diff full-outer join — and it used to execute up to three
    # times (null-group guard, repair-key probe, merge source). The
    # delta aggregate is GROUPS-sized (bounded by the churn's distinct
    # group keys), so persist IT once and answer the guard and the
    # repair-key probe from the cached rows: the feed now runs exactly
    # once per refresh. ``__saw_del`` rides the same aggregate so the
    # repair path needs no second pass over the feed.
    if d.needs_repair():
        delta_cols.append(
            F.max(F.when(F.col("__sign") == -1, 1).otherwise(0)).alias(
                "__saw_del"
            )
        )
    delta = ch.groupBy(*[F.col(g) for g in d.groups]).agg(*delta_cols)
    # r14 (guide §5): localCheckpoint
    # rather than persist — under repair the delta is consumed by
    # several downstream frames (repair probe, anti/semi joins, fold,
    # merge source) and each action on a persisted frame still re-plans
    # the FULL feed tree (file-diff full-outer join + payload structs +
    # dim joins) before hitting the cache; checkpointing materializes
    # the groups-sized rows once and every consumer analyzes a leaf.
    # Content is pinned at this point, so every consumer also sees the
    # identical rows. Memory: bounded by churn-group count. WITHOUT
    # repair the fold join is the delta's only consumer, so the feed
    # already executes exactly once inside the ``out`` checkpoint below
    # and a second materialization round-trip here would be pure cost.
    if d.needs_repair():
        delta = delta.localCheckpoint(eager=True)
    # (the null-group guard runs as part of the fused flags probe on
    # the checkpointed ``out`` below — delta rows survive the left fold
    # join and the repair anti-join verbatim on null keys, so any
    # null-keyed group still surfaces before anything commits)
    repaired = None
    mode = "incremental"
    if d.needs_repair():
        # min/max repair: a delete can RAISE a min (its row may have
        # been the argmin), so groups the change feed deleted from are
        # recomputed exactly from the base snapshot — a scan touching
        # only those groups (semi-join on churn-sized keys; when the
        # single group key has few distinct values the repair read is
        # manifest-PRUNED via an IN predicate, so partition-aligned
        # group keys pay only their own partitions). Insert-only groups
        # stay on the cheap fold (min = least(cur, batch min)).
        repair_keys = (
            delta.filter(F.col("__saw_del") == 1).select(*d.groups)
        )
        # bounded probe, never an unbounded collect: only the first 257
        # keys come to the driver (enough to know whether an IN-predicate
        # prune is worth building)
        keys = [tuple(r) for r in repair_keys.limit(257).collect()]
        if keys:
            n_lbl = str(len(keys)) if len(keys) <= 256 else ">256"
            mode = f"incremental+repair({n_lbl} group(s))"
            delta = delta.join(
                F.broadcast(repair_keys), on=list(d.groups), how="left_anti"
            )
            where = None
            # the IN-prune predicate runs against the BASE's manifest —
            # it only makes sense when the single group key is a base
            # column (join views may group by a dim attribute)
            base_cols = set(base.manifest().schema.fieldNames())
            if (
                len(d.groups) == 1
                and len(keys) <= 256
                and d.groups[0] in base_cols
            ):
                vals = [k[0] for k in keys]
                if all(isinstance(v, bool) for v in vals):
                    lits = [str(v).lower() for v in vals]
                elif all(isinstance(v, int) for v in vals):
                    lits = [str(v) for v in vals]
                elif all(isinstance(v, str) for v in vals):
                    # The predicate string is parsed by TWO lexers with
                    # incompatible escape rules: Spark SQL's (backslash
                    # escapes; adjacent literals concatenate, so '' is
                    # NOT a safe quote escape) and the manifest skipper's
                    # (doubled '' only; backslash is a plain char). No
                    # single spelling round-trips a quote or backslash
                    # through both, and a mangled literal would silently
                    # repair the group over a subset of its rows — so any
                    # such key disables the IN-prune (where stays None);
                    # the left_semi join below guarantees exactness
                    # regardless, the prune is purely an optimization.
                    if any("'" in v or "\\" in v for v in vals):
                        lits = None
                    else:
                        lits = [f"'{v}'" for v in vals]
                else:
                    lits = None
                if lits:
                    where = f"{quote_ident(d.groups[0])} IN ({', '.join(lits)})"
            rep = base.read(version=to_v, where=where)
            if d.dims:
                rep = _apply_dim_join(cat, d, rep, dims_from)
            if d.where:
                rep = rep.filter(d.where)
            rep = rep.join(
                F.broadcast(repair_keys), on=list(d.groups), how="left_semi"
            )
            repaired = _with_derived(
                rep.groupBy(*[F.col(g) for g in d.groups]).agg(*_agg_cols(d)),
                d,
            ).withColumn("__dead", F.lit(False))
            # repaired groups with ZERO surviving base rows are dead —
            # they can't appear in the recompute output, so synthesize
            # tombstone rows (merge deletes them by group key)
            mv_schema = {f.name: f.dataType for f in t.manifest().schema.fields}
            dead_rows = repair_keys.join(
                repaired.select(*d.groups), on=list(d.groups), how="left_anti"
            ).select(
                *d.groups,
                *[
                    (F.lit(0) if a == d.count_alias else F.lit(None))
                    .cast(mv_schema[a]).alias(a)
                    for a in [c for c in repaired.columns
                              if c not in d.groups and c != "__dead"]
                ],
            ).withColumn("__dead", F.lit(True))
            repaired = repaired.unionByName(dead_rows)
    aliases = [a for _, _, a in d.maintained()]
    cur = t.read().select(
        *d.groups, *[F.col(a).alias(f"__cur_{a}") for a in aliases]
    )
    fold_cols = []
    for kind, _, a in d.maintained():
        curc, dc = F.col(f"__cur_{a}"), F.col(a)
        if kind == "min":
            fold_cols.append(F.least(curc, dc).alias(a))  # least skips nulls
        elif kind == "max":
            fold_cols.append(F.greatest(curc, dc).alias(a))
        else:
            fold_cols.append((F.coalesce(curc, F.lit(0)) + dc).alias(a))
    folded = delta.join(cur, on=list(d.groups), how="left").select(
        *d.groups, *fold_cols
    )
    folded = _with_derived(folded, d)
    # sum columns keep the base's types (long + long, double + double);
    # the merge conform handles widening like any write
    dead = F.col(d.count_alias) == 0
    out = folded.withColumn("__dead", dead)
    if repaired is not None:
        out = out.unionByName(repaired)
    # the merge evaluates its source more than once (planning aggregate
    # + write); ``out`` is groups-sized, so checkpointing makes the
    # repair read (a real base scan) and the fold join run once AND
    # every merge-internal action plan against a leaf instead of
    # re-analyzing the whole refresh tree
    out = out.localCheckpoint(eager=True)
    # ONE fused probe job over the checkpointed leaf answers both
    # pre-merge questions (they used to be two separate jobs): did any
    # feed row carry a NULL group key (refuse — the view's merge
    # identity is its group key), and did any group die (tombstone
    # merges need the Spark window plan; most refreshes are pure
    # insert/update churn and take the driver-side Arrow fast path).
    null_key = None
    for g in d.groups:
        c = F.col(g).isNull()
        null_key = c if null_key is None else (null_key | c)
    flags = out.select(
        F.max(F.when(null_key, 1).otherwise(0)).alias("__null_key"),
        F.max(F.when(F.col("__dead"), 1).otherwise(0)).alias("__has_dead"),
    ).first()
    if flags["__null_key"]:
        raise ValueError(
            f"refresh {name}: NULL in GROUP BY column(s) {d.groups} — "
            f"the view's merge identity is its group key, which must be "
            f"non-null (filter or coalesce the key in the definition)"
        )
    w = _writer(cat, name, d)
    w.extra_commit_props = marker
    if flags["__has_dead"]:
        w.merge(out, tombstone_col="__dead")
    else:
        w.merge(out.drop("__dead"))
    return {"view": name, "mode": mode, "from": from_v, "to": to_v}
