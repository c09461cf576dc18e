"""SQL ``MERGE INTO`` over the lake writer — the reference's flagship
statement as a statement.

The reference's entire ingest path ultimately executes one SQL string:
``MERGE INTO <table> USING batch ON <pk conds> WHEN MATCHED THEN UPDATE
SET … WHEN NOT MATCHED THEN INSERT …`` (``ingestor/DucklakeWriter.java:
151-168`` — name-mapped columns, ``_inserted_at`` stamped only on
insert). The engine has had the SEMANTICS since round 3 (``LakeWriter.
merge`` and PK-routed INSERT); this module closes the SYNTAX gap so a
user porting reference-era SQL scripts runs them unchanged through
``LakeCatalog.sql``/``dml``.

Grammar (DuckDB/Delta-compatible subset, identifiers bare,
"double-quoted" with ``""`` escape — the reference's
``SqlIdentifierUtil.java:32-39`` discipline — or `backtick-quoted`)::

    MERGE INTO t [AS a]
    USING (<select>) [AS b] | USING src_table [AS b]
    ON <conjunction of pk equalities>        -- must cover t's full PK
    WHEN MATCHED [AND <cond>] THEN UPDATE SET * | col = expr [, ...]
    [WHEN MATCHED [AND <cond>] THEN DELETE]
    [WHEN NOT MATCHED [BY TARGET] [AND <cond>] THEN INSERT * |
                                        (cols) VALUES (exprs)]
    [WHEN NOT MATCHED BY SOURCE [AND <cond>] THEN UPDATE SET … | DELETE]

The ``BY SOURCE`` clauses (Delta 2.3+/Spark 3.4 mirror-sync form) act
on TARGET rows with no source match — the join switches to FULL OUTER
and the target read is necessarily unpruned (rows outside the source
key range are exactly the candidates); conditions/SET exprs there may
reference only the target alias.

Execution is Spark-first, not row-at-a-time: the clauses compile to ONE
projection over ``source LEFT JOIN target`` (matched-ness from a
sentinel), and the resulting frame goes through the existing
``LakeWriter.merge`` — so the merge executors (the driver-side Arrow
merge for small tables, the Spark pruning merge's broadcast joins with
range/Bloom file pruning, group commit) are reused verbatim, ``WHEN
MATCHED … DELETE`` rides the tombstone channel, ``_inserted_at`` keeps
the stamp-only-on-insert invariant, and a NULL key matches no target
row (``ON`` equality is never true for NULL). When the statement is
the reference's exact shape — ``UPDATE SET *`` + ``INSERT *``, no extra
conditions — the join is skipped entirely and the mapped source feeds
``merge`` directly (zero overhead vs the API path).

Scale: the general path reads the target once for the pre-join; with a
single-column PK that read is bounded by the source's [min, max] key
range through the manifest stat prune (``read(where=…)``), the same
bound the writer's own rewrite planning uses. Clause conditions and
expressions may reference BOTH aliases (``t.cnt + s.cnt``) — they run
inside the joined projection, JVM-side.
"""

from __future__ import annotations

import re
import uuid

from pyspark.sql import DataFrame, functions as F

from .table import _IDENT, quote_ident, unquote_ident, split_top_level, _dq_idents_to_backticks

#: sentinels marking row presence on each side of the join; stripped
#: before the write. _TOMB is the tombstone carrier for DELETE.
_PRESENT = "__merge_target_present"
_S_PRESENT = "__merge_source_present"
_TOMB = "__merge_tombstone"

_WHEN_RE = re.compile(r"\bWHEN\s+(NOT\s+)?MATCHED\b", re.IGNORECASE)
_THEN_RE = re.compile(r"\bTHEN\b", re.IGNORECASE)
_AND_RE = re.compile(r"\bAND\b", re.IGNORECASE)


def _scan_top_level(text: str, pattern: "re.Pattern[str]") -> list[int]:
    """Offsets where ``pattern`` matches at paren depth 0 and outside
    string/identifier quotes — the same scanner discipline as
    ``split_top_level`` (table.py), generalized to a regex."""
    out: list[int] = []
    depth = 0
    quote: str | None = None
    i = 0
    while i < len(text):
        ch = text[i]
        if quote is not None:
            if ch == quote:
                if i + 1 < len(text) and text[i + 1] == quote:
                    i += 1
                else:
                    quote = None
        elif ch in ("'", '"', "`"):
            quote = ch
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif depth == 0:
            m = pattern.match(text, i)
            if m:
                out.append(i)
                i = m.end() - 1
        i += 1
    return out


def _split_on(text: str, pattern: "re.Pattern[str]") -> list[str]:
    """Split ``text`` at every top-level match of ``pattern``; the
    matched token starts each segment after the first."""
    offs = _scan_top_level(text, pattern)
    if not offs:
        return [text]
    parts = [text[: offs[0]]]
    for a, b in zip(offs, offs[1:] + [len(text)]):
        parts.append(text[a:b])
    return parts


def _qb(name: str) -> str:
    """Backtick-quote a raw identifier for Spark SQL."""
    return "`" + name.replace("`", "``") + "`"


def _ident_ref(text: str) -> "tuple[str | None, str] | None":
    """Parse ``[qualifier.]column`` (both possibly quoted); None if the
    text is not a plain column reference."""
    m = re.fullmatch(
        rf"\s*(?:({_IDENT})\s*\.\s*)?({_IDENT})\s*", text, re.DOTALL
    )
    if not m:
        return None
    return (
        unquote_ident(m.group(1)) if m.group(1) else None,
        unquote_ident(m.group(2)),
    )


class MergeStatement:
    """Parsed form of one MERGE INTO statement."""

    def __init__(self, stmt: str):
        self.raw = stmt
        m = re.match(
            rf"MERGE\s+INTO\s+({_IDENT})"
            rf"(?:\s+(?:AS\s+)?(?!USING\b)({_IDENT}))?"
            rf"\s+USING\s+",
            stmt,
            re.IGNORECASE,
        )
        if not m:
            raise ValueError(f"unsupported MERGE statement: {stmt!r}")
        self.target = unquote_ident(m.group(1))
        self.target_alias = unquote_ident(m.group(2)) if m.group(2) else self.target
        rest = stmt[m.end():].lstrip()
        # USING (<subquery>) | USING name
        if rest.startswith("("):
            depth, i = 0, 0
            quote = None
            for i, ch in enumerate(rest):
                if quote is not None:
                    if ch == quote:
                        quote = None
                elif ch in ("'", '"', "`"):
                    quote = ch
                elif ch == "(":
                    depth += 1
                elif ch == ")":
                    depth -= 1
                    if depth == 0:
                        break
            if depth != 0:
                raise ValueError("unbalanced parens in MERGE USING subquery")
            self.source_sql: str | None = rest[1:i].strip()
            self.source_name: str | None = None
            rest = rest[i + 1:]
        else:
            nm = re.match(rf"({_IDENT})", rest)
            if not nm:
                raise ValueError("MERGE USING expects a subquery or table name")
            self.source_name = unquote_ident(nm.group(1))
            self.source_sql = None
            rest = rest[nm.end():]
        am = re.match(
            rf"\s*(?:AS\s+)?(?!ON\b)({_IDENT})", rest, re.IGNORECASE
        )
        if am:
            self.source_alias = unquote_ident(am.group(1))
            rest = rest[am.end():]
        else:
            self.source_alias = self.source_name or "src"
        om = re.match(r"\s*ON\b", rest, re.IGNORECASE)
        if not om:
            raise ValueError("MERGE requires an ON clause")
        rest = rest[om.end():]
        when_offs = _scan_top_level(rest, _WHEN_RE)
        if not when_offs:
            raise ValueError("MERGE requires at least one WHEN clause")
        self.on_sql = rest[: when_offs[0]].strip()
        clauses = _split_on(rest, _WHEN_RE)[1:]
        # clause order matters (first-match-wins between UPDATE/DELETE)
        self.update: "dict | None" = None      # {cond, sets | '*'}
        self.delete: "dict | None" = None      # {cond}
        self.insert: "dict | None" = None      # {cond, cols, exprs | '*'}
        self.matched_order: list[str] = []
        # WHEN NOT MATCHED BY SOURCE … (Delta 2.3+/Spark 3.4 mirror-sync
        # clauses): act on TARGET rows with no source match
        self.bs_update: "dict | None" = None   # {cond, sets}
        self.bs_delete: "dict | None" = None   # {cond}
        self.bs_order: list[str] = []
        for cl in clauses:
            self._parse_when(cl.strip())

    def _parse_when(self, cl: str) -> None:
        hm = re.match(
            r"WHEN\s+(NOT\s+)?MATCHED(?:\s+BY\s+(SOURCE|TARGET))?\b",
            cl,
            re.IGNORECASE,
        )
        negated = bool(hm.group(1))
        by = (hm.group(2) or "").upper()
        if by and not negated:
            raise ValueError("BY SOURCE/BY TARGET is only valid after NOT MATCHED")
        by_source = negated and by == "SOURCE"
        body = cl[hm.end():].strip()
        cond = None
        then_offs = _scan_top_level(body, _THEN_RE)
        if not then_offs:
            raise ValueError(f"WHEN clause missing THEN: {cl!r}")
        head = body[: then_offs[0]].strip()
        action = body[then_offs[0]:].strip()[4:].strip()  # past 'THEN'
        if head:
            am = re.match(r"AND\b(.*)$", head, re.IGNORECASE | re.DOTALL)
            if not am:
                raise ValueError(f"bad WHEN clause condition: {head!r}")
            cond = am.group(1).strip()
        if negated and not by_source:
            if self.insert is not None:
                raise ValueError("duplicate WHEN NOT MATCHED clause")
            im = re.match(
                r"INSERT\s*(\*|\((.*?)\)\s*VALUES\s*\((.*)\))\s*$",
                action,
                re.IGNORECASE | re.DOTALL,
            )
            if not im:
                raise ValueError(f"unsupported MERGE insert action: {action!r}")
            if im.group(1) == "*":
                self.insert = {"cond": cond, "cols": "*", "exprs": "*"}
            else:
                cols = [
                    unquote_ident(c) for c in split_top_level(im.group(2))
                ]
                exprs = [e.strip() for e in split_top_level(im.group(3))]
                if len(cols) != len(exprs):
                    raise ValueError(
                        f"INSERT column/value arity mismatch: {len(cols)} vs {len(exprs)}"
                    )
                self.insert = {"cond": cond, "cols": cols, "exprs": exprs}
            return
        um = re.match(r"UPDATE\s+SET\s+(.*)$", action, re.IGNORECASE | re.DOTALL)
        if um:
            slot = "bs_update" if by_source else "update"
            if getattr(self, slot) is not None:
                raise ValueError(f"duplicate WHEN {'NOT MATCHED BY SOURCE' if by_source else 'MATCHED'} ... UPDATE clause")
            body = um.group(1).strip()
            if body == "*":
                if by_source:
                    raise ValueError(
                        "UPDATE SET * is meaningless for NOT MATCHED BY SOURCE "
                        "(there is no source row to copy)"
                    )
                self.update = {"cond": cond, "sets": "*"}
            else:
                sets: dict[str, str] = {}
                for part in split_top_level(body):
                    sm = re.match(
                        rf"\s*(?:({_IDENT})\s*\.\s*)?({_IDENT})\s*=\s*(.+)$",
                        part,
                        re.DOTALL,
                    )
                    if not sm:
                        raise ValueError(f"bad SET assignment: {part.strip()!r}")
                    if sm.group(1) and unquote_ident(sm.group(1)) != self.target_alias:
                        raise ValueError(
                            f"SET qualifier {sm.group(1)!r} is not the target alias"
                        )
                    sets[unquote_ident(sm.group(2))] = sm.group(3).strip()
                setattr(self, slot, {"cond": cond, "sets": sets})
            (self.bs_order if by_source else self.matched_order).append("update")
            return
        if re.fullmatch(r"DELETE", action, re.IGNORECASE):
            slot = "bs_delete" if by_source else "delete"
            if getattr(self, slot) is not None:
                raise ValueError(f"duplicate WHEN {'NOT MATCHED BY SOURCE' if by_source else 'MATCHED'} ... DELETE clause")
            setattr(self, slot, {"cond": cond})
            (self.bs_order if by_source else self.matched_order).append("delete")
            return
        raise ValueError(f"unsupported MERGE action: {action!r}")


def _pk_equalities(st: MergeStatement, pk: list[str]) -> dict[str, str]:
    """Validate the ON clause as a conjunction of equality conditions
    covering the target's FULL pk; returns {pk_col: source-side expr}."""
    key_exprs: dict[str, str] = {}
    for conj in _split_on(st.on_sql, _AND_RE):
        conj = re.sub(r"^\s*AND\b", "", conj, flags=re.IGNORECASE).strip()
        if not conj:
            continue
        sides = split_top_level(conj, "=")
        if len(sides) != 2:
            raise ValueError(
                f"MERGE ON must be a conjunction of equalities, got: {conj!r}"
            )
        refs = [_ident_ref(s) for s in sides]
        t_side = None
        for i, r in enumerate(refs):
            if r is not None and (
                r[0] == st.target_alias or (r[0] is None and r[1] in pk)
            ):
                t_side = i
                break
        if t_side is None:
            raise ValueError(
                f"MERGE ON condition must compare a target pk column: {conj!r}"
            )
        tcol = refs[t_side][1]
        if tcol not in pk:
            raise ValueError(
                f"MERGE ON references non-pk target column {tcol!r} "
                f"(the lake merge is pk-keyed, pk={pk})"
            )
        if tcol in key_exprs:
            raise ValueError(f"pk column {tcol!r} constrained twice in ON")
        key_exprs[tcol] = sides[1 - t_side].strip()
    missing = [p for p in pk if p not in key_exprs]
    if missing:
        raise ValueError(
            f"MERGE ON must cover the full pk {pk}; missing {missing}"
        )
    return key_exprs


def _literal(v) -> str | None:
    if isinstance(v, bool) or v is None:
        return None
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    return None


def merge_into(catalog, stmt: str) -> str:
    """Execute one MERGE INTO statement against ``catalog``; returns the
    target table name. See the module docstring for the compile shape."""
    from .writer import LakeWriter
    from ..schema.reconcile import INSERTED_AT

    st = MergeStatement(stmt)
    t = catalog.table(st.target)
    if not t.exists():
        raise ValueError(f"MERGE INTO unknown table {st.target!r}")
    manifest = t.manifest()
    pk = list(manifest.pk or [])
    if not pk:
        raise ValueError(
            f"MERGE INTO {st.target}: table has no PRIMARY KEY — the lake "
            f"merge is pk-keyed (create the table with a PRIMARY KEY clause)"
        )
    key_exprs = {
        k: _dq_idents_to_backticks(v) for k, v in _pk_equalities(st, pk).items()
    }
    if (
        st.update is None
        and st.insert is None
        and st.delete is None
        and st.bs_update is None
        and st.bs_delete is None
    ):
        raise ValueError("MERGE needs at least one action clause")

    # ---- source frame ----
    if st.source_sql is not None:
        src = catalog.sql(st.source_sql)  # sql() expands lake views
    elif catalog.table_exists(st.source_name):
        src = catalog.table(st.source_name).read()
    elif st.source_name.lower() in {v.lower() for v in catalog.list_views()}:
        # USING a lake view by bare name: route through sql() so the
        # view body (and its transitive view deps) expand as CTEs
        src = catalog.sql(f"SELECT * FROM {st.source_name}")
    else:
        src = catalog.spark.table(st.source_name)

    data_cols = [
        f.name for f in manifest.schema.fields if f.name != INSERTED_AT
    ]
    non_pk = [c for c in data_cols if c not in pk]
    s_al, t_al = st.source_alias, st.target_alias
    if s_al == t_al:
        raise ValueError("MERGE source and target aliases must differ")

    # ---- schema evolution through SQL (reference parity: the target
    # evolves on every write, DucklakeTableManager.java:236-322): the
    # star forms (`UPDATE SET *` / `INSERT *`) extend the target with
    # source columns it lacks — the writer merge beneath conforms both
    # sides (ADD COLUMN null-fill + type widening; an incompatible
    # JSON-guard column still raises there, before any commit). Source
    # columns consumed by the ON key expressions are join keys, not
    # payload, and never evolve in. Explicit column lists keep the
    # strict unknown-column rejection. ----
    star = (st.update is not None and st.update["sets"] == "*") or (
        st.insert is not None and st.insert["cols"] == "*"
    )
    evolved: list[str] = []
    if star:
        key_txt = " ".join(key_exprs.values()).replace("`", "")
        evolved = [
            c
            for c in src.columns
            if c not in data_cols
            and c not in pk
            and c != INSERTED_AT
            and not re.search(
                rf"(?<![A-Za-z0-9_]){re.escape(c)}(?![A-Za-z0-9_])",
                key_txt,
            )
        ]
        data_cols = data_cols + evolved
        non_pk = non_pk + evolved

    def src_star(which: str) -> dict[str, str]:
        cols = {}
        for c in non_pk:
            if c not in src.columns:
                raise ValueError(
                    f"MERGE {which} *: source lacks column {c!r} "
                    f"(name-map it with an explicit column list)"
                )
            cols[c] = f"{_qb(s_al)}.{_qb(c)}"
        return cols

    upd_sets = None
    if st.update is not None:
        upd_sets = (
            src_star("UPDATE SET")
            if st.update["sets"] == "*"
            else {
                k: _dq_idents_to_backticks(v)
                for k, v in st.update["sets"].items()
            }
        )
        bad = [c for c in upd_sets if c in pk]
        if bad:
            raise ValueError(f"MERGE UPDATE SET may not assign pk column(s) {bad}")
        unknown = [c for c in upd_sets if c not in data_cols]
        if unknown:
            raise ValueError(f"MERGE UPDATE SET references unknown column(s) {unknown}")
    ins_exprs = None
    if st.insert is not None:
        if st.insert["cols"] == "*":
            ins_exprs = src_star("INSERT")
        else:
            ins_exprs = {}
            for c, e in zip(st.insert["cols"], st.insert["exprs"]):
                if c in pk:
                    # pk values always come from the ON key exprs; an
                    # explicit DIFFERENT expression would be silently
                    # overridden (wrong data, no error) — reject instead
                    want = key_exprs[c]
                    got = _dq_idents_to_backticks(e)
                    if "".join(got.split()) != "".join(want.split()):
                        raise ValueError(
                            f"MERGE INSERT expression for pk column {c!r} "
                            f"({e.strip()!r}) does not match the ON key "
                            f"expression ({want!r}); the lake merge keys "
                            f"inserted rows by the ON equalities — drop the "
                            f"pk column from the INSERT list or make the "
                            f"expressions identical"
                        )
                    continue
                if c not in data_cols:
                    raise ValueError(f"MERGE INSERT references unknown column {c!r}")
                ins_exprs[c] = _dq_idents_to_backticks(e)
    bs_sets = None
    if st.bs_update is not None:
        bs_sets = {
            k: _dq_idents_to_backticks(v)
            for k, v in st.bs_update["sets"].items()
        }
        bad = [c for c in bs_sets if c in pk]
        if bad:
            raise ValueError(
                f"MERGE ... BY SOURCE UPDATE SET may not assign pk column(s) {bad}"
            )
        unknown = [c for c in bs_sets if c not in data_cols]
        if unknown:
            raise ValueError(
                f"MERGE ... BY SOURCE UPDATE SET references unknown column(s) {unknown}"
            )
    has_bs = st.bs_update is not None or st.bs_delete is not None

    # ---- fast path: the reference's exact shape (name-mapped full-row
    # upsert, no conditions, no delete) → mapped source straight into
    # the writer merge; no pre-join, no target read beyond the writer's
    # own pruning ----
    simple = (
        not has_bs
        and st.delete is None
        and st.update is not None
        and st.insert is not None
        and st.update["cond"] is None
        and st.insert["cond"] is None
        and upd_sets == ins_exprs
        and set(upd_sets) == set(non_pk)
    )
    writer = LakeWriter(t, pk=pk, auto_create=False)
    if simple:
        mapped = src.alias(s_al).select(
            *[F.expr(key_exprs[p]).alias(p) for p in pk],
            *[F.expr(upd_sets[c]).alias(c) for c in non_pk],
        )
        writer.merge(mapped)
        return st.target

    # ---- general path: compile the clauses into one projection over
    # source LEFT JOIN target (FULL OUTER when BY SOURCE clauses need
    # the target-only rows; then the key-range prune must be off — rows
    # OUTSIDE the source key range are exactly the BY SOURCE candidates) ----
    tgt_where = (
        None if has_bs else _source_key_range_where(src, s_al, key_exprs, pk, manifest)
    )
    tgt = t.read(where=tgt_where) if tgt_where else t.read()
    for c in evolved:  # target predates evolved columns: null-fill for the join
        tgt = tgt.withColumn(c, F.lit(None).cast(src.schema[c].dataType))
    tgt = tgt.withColumn(_PRESENT, F.lit(True))
    src = src.withColumn(_S_PRESENT, F.lit(True))
    sv = f"__merge_src_{uuid.uuid4().hex[:8]}"
    tv = f"__merge_tgt_{uuid.uuid4().hex[:8]}"
    src.createOrReplaceTempView(sv)
    tgt.createOrReplaceTempView(tv)
    try:
        t_present = f"{_qb(t_al)}.{_qb(_PRESENT)} IS NOT NULL"
        s_present = f"{_qb(s_al)}.{_qb(_S_PRESENT)} IS NOT NULL"
        # on a LEFT join the source side is always present, so `matched`
        # reduces to target-presence; under FULL OUTER both sentinels
        # partition the rows into matched / source-only / target-only
        matched = f"({t_present} AND {s_present})" if has_bs else t_present
        s_only = f"({s_present} AND NOT {t_present})"
        t_only = f"({t_present} AND NOT {s_present})"
        upd_cond = (
            _dq_idents_to_backticks(st.update["cond"])
            if st.update is not None and st.update["cond"]
            else None
        )
        del_cond = (
            _dq_idents_to_backticks(st.delete["cond"])
            if st.delete is not None and st.delete["cond"]
            else None
        )
        ins_cond = (
            _dq_idents_to_backticks(st.insert["cond"])
            if st.insert is not None and st.insert["cond"]
            else None
        )
        bs_upd_cond = (
            _dq_idents_to_backticks(st.bs_update["cond"])
            if st.bs_update is not None and st.bs_update["cond"]
            else None
        )
        bs_del_cond = (
            _dq_idents_to_backticks(st.bs_delete["cond"])
            if st.bs_delete is not None and st.bs_delete["cond"]
            else None
        )
        if has_bs:
            # target-only rows have NULL source key exprs: pk falls back
            # to the target's own key columns
            projections = [
                f"(CASE WHEN {s_present} THEN ({key_exprs[p]}) "
                f"ELSE {_qb(t_al)}.{_qb(p)} END) AS {_qb(p)}"
                for p in pk
            ]
        else:
            projections = [f"({key_exprs[p]}) AS {_qb(p)}" for p in pk]
        for c in non_pk:
            branches = []
            if upd_sets is not None and c in upd_sets:
                guard = matched
                if upd_cond:
                    guard += f" AND coalesce(({upd_cond}), false)"
                branches.append(f"WHEN {guard} THEN ({upd_sets[c]})")
            if bs_sets is not None and c in bs_sets:
                guard = t_only
                if bs_upd_cond:
                    guard += f" AND coalesce(({bs_upd_cond}), false)"
                branches.append(f"WHEN {guard} THEN ({bs_sets[c]})")
            # target rows not taken by an UPDATE keep their target value
            branches.append(f"WHEN {t_present} THEN {_qb(t_al)}.{_qb(c)}")
            if ins_exprs is not None and c in ins_exprs:
                branches.append(f"ELSE ({ins_exprs[c]})")
            # branch-unifying cast: the target column's type — except
            # under star-form schema evolution, where the projection must
            # carry the EVOLVED type so the writer's reconcile can commit
            # the same decision (a premature narrow cast would mask the
            # widening; an incompatible pair must reject HERE, before the
            # join runs, not silently stringify)
            from ..schema.reconcile import (
                EvolutionDecision,
                decide_column,
                widen_target,
            )

            t_type = (
                manifest.schema[c].dataType
                if c in manifest.schema.fieldNames()
                else None
            )
            if t_type is None:  # evolution-new column: source type
                out_type = src.schema[c].dataType
            elif star and c in src.columns:
                decision = decide_column(t_type, src.schema[c].dataType)
                if decision is EvolutionDecision.INCOMPATIBLE:
                    raise ValueError(
                        f"MERGE INTO {st.target}: source column {c!r} type "
                        f"{src.schema[c].dataType.simpleString()} is "
                        f"incompatible with the target's "
                        f"{t_type.simpleString()} (JSON/type-evolution guard)"
                    )
                out_type = (
                    widen_target(t_type, src.schema[c].dataType)
                    if decision is EvolutionDecision.UPGRADE
                    else t_type
                )
            else:
                out_type = t_type
            projections.append(
                f"CAST((CASE {' '.join(branches)} END) AS "
                f"{out_type.simpleString()}) AS {_qb(c)}"
            )

        def _delete_guard(scope, del_c, upd, upd_c, order):
            """First-match-wins delete guard within one scope (matched or
            target-only): an earlier-listed UPDATE shields the row."""
            guard = scope
            if del_c:
                guard += f" AND coalesce(({del_c}), false)"
            if upd is not None and order and order[0] == "update":
                if upd_c:
                    guard += f" AND NOT coalesce(({upd_c}), false)"
                else:
                    return "false"  # unconditional UPDATE first swallows all
            return guard

        tomb_guards = []
        if st.delete is not None:
            tomb_guards.append(
                _delete_guard(matched, del_cond, st.update, upd_cond, st.matched_order)
            )
        if st.bs_delete is not None:
            tomb_guards.append(
                _delete_guard(t_only, bs_del_cond, st.bs_update, bs_upd_cond, st.bs_order)
            )
        tomb = None
        if tomb_guards:
            g = " OR ".join(f"({x})" for x in tomb_guards)
            tomb = f"(CASE WHEN {g} THEN true ELSE false END) AS {_qb(_TOMB)}"
        # row-retention filter: matched rows always participate;
        # source-only rows only through an admitting INSERT clause;
        # target-only rows only through an applicable BY SOURCE clause
        # (everything else must NOT enter the merge frame — an untouched
        # target row re-entering would be a pointless rewrite)
        keep = [f"({matched})"]
        if st.insert is not None:
            k = s_only if has_bs else f"NOT {t_present}"
            if ins_cond:
                k = f"({k} AND coalesce(({ins_cond}), false))"
            keep.append(f"({k})")
        if has_bs:
            applies = []
            if st.bs_update is not None:
                applies.append(
                    f"coalesce(({bs_upd_cond}), false)" if bs_upd_cond else "true"
                )
            if st.bs_delete is not None:
                applies.append(
                    f"coalesce(({bs_del_cond}), false)" if bs_del_cond else "true"
                )
            keep.append(f"({t_only} AND ({' OR '.join(applies)}))")
        where = " OR ".join(keep)
        if st.insert is not None and ins_cond is None and not has_bs:
            where = None  # LEFT join + unconditional INSERT keeps every row
        join = "FULL OUTER JOIN" if has_bs else "LEFT JOIN"
        sql = (
            f"SELECT {', '.join(projections + ([tomb] if tomb else []))} "
            f"FROM {sv} AS {_qb(s_al)} {join} {tv} AS {_qb(t_al)} "
            f"ON {_dq_idents_to_backticks(st.on_sql)}"
        )
        if where:
            sql += f" WHERE {where}"
        frame = catalog.spark.sql(sql)
        writer.merge(frame, tombstone_col=_TOMB if tomb else None)
    finally:
        catalog.spark.catalog.dropTempView(sv)
        catalog.spark.catalog.dropTempView(tv)
    return st.target


def _source_key_range_where(
    src: DataFrame, s_al: str, key_exprs: dict[str, str], pk: list[str], manifest
) -> str | None:
    """Single-column-pk manifest prune for the pre-join target read: the
    join only needs target rows inside the source's [min, max] key range
    (rows outside cannot match), so one tiny source aggregate buys
    file-level skipping on the target — the same bound the writer's own
    rewrite planner uses. Multi-pk or exotic types: no prune (correct,
    just unbounded)."""
    if len(pk) != 1:
        return None
    p = pk[0]
    try:
        row = (
            src.alias(s_al)
            .agg(
                F.min(F.expr(key_exprs[p])).alias("lo"),
                F.max(F.expr(key_exprs[p])).alias("hi"),
            )
            .collect()[0]
        )
    except Exception:
        return None
    lo, hi = _literal(row["lo"]), _literal(row["hi"])
    if lo is None or hi is None:
        return None
    q = quote_ident(p)
    return f"{q} >= {lo} AND {q} <= {hi}"
