"""Property-based tests (hypothesis): invariants that unit fixtures
cannot sweep — partition-value canonicalization agreement, manifest
segment roundtrips, and data-skipping conservativeness."""

from hypothesis import given, settings
from hypothesis import strategies as st

from ducklake_kafka_connect_spark.lake.arrow_files import hive_escape
from ducklake_kafka_connect_spark.lake.partitioning import (
    HIVE_NULL,
    canon_partition_token,
    canon_partition_value,
)
from ducklake_kafka_connect_spark.lake.skipping import parse_conjuncts, prune_files

# --------------------------------------------------------------------------
# partition canonicalization: value-side and token-side must agree
# --------------------------------------------------------------------------


@settings(max_examples=100, deadline=None)
@given(st.one_of(
    st.integers(-(2**50), 2**50),
    st.booleans(),
    st.just(""),
    st.text(alphabet=st.characters(exclude_characters="\x00"), max_size=20),
))
def test_canon_value_token_agreement(v):
    """A partition value written as its Hive token must canonicalize to
    the same string from BOTH directions (Row value vs dir token) — the
    invariant that makes MERGE's partition pruning safe. The token is
    built by the writers' own escaping (a string containing a literal
    '%' is %-escaped in the directory name; hypothesis found the
    raw-token model falsified by the string '%00'), with ``""`` in the
    null marker's dir as Spark's partitionBy puts it."""
    canon_v = canon_partition_value(v)
    token = "true" if v is True else "false" if v is False else hive_escape(str(v))
    token = token or HIVE_NULL
    assert canon_partition_token(token) == canon_v


# --------------------------------------------------------------------------
# data skipping: pruning is conservative (never drops a matching file)
# --------------------------------------------------------------------------


@settings(max_examples=100, deadline=None)
@given(
    st.lists(st.tuples(st.integers(-100, 100), st.integers(0, 50)),
             min_size=1, max_size=6),
    st.integers(-120, 120),
    st.sampled_from(["=", "<", "<=", ">", ">="]),
)
def test_prune_never_drops_matching_file(ranges, lit, op):
    files = [f"f{i}" for i in range(len(ranges))]
    stats = {
        f: {"x": [lo, lo + width]} for f, (lo, width) in zip(files, ranges)
    }
    pred = f"x {op} {lit}"
    kept, _ = prune_files(files, stats, pred)
    # brute force: a file whose [lo, hi] contains ANY value satisfying
    # the predicate must be kept
    ops = {"=": lambda a: a == lit, "<": lambda a: a < lit,
           "<=": lambda a: a <= lit, ">": lambda a: a > lit,
           ">=": lambda a: a >= lit}
    for f, (lo, width) in zip(files, ranges):
        if any(ops[op](v) for v in range(lo, lo + width + 1)):
            assert f in kept, f"{f} [{lo},{lo+width}] pruned but matches {pred}"


@settings(max_examples=50, deadline=None)
@given(st.text(max_size=40))
def test_parse_conjuncts_never_crashes(s):
    """Arbitrary predicate text parses to conjuncts or none — a parse
    the skipper cannot understand must degrade to 'keep everything',
    never to an exception in the read path."""
    parse_conjuncts(s)


# ---------------------------------------------------------------------------
# Binary manifest segment codec: round-trip over arbitrary shapes
# ---------------------------------------------------------------------------

_stat_val = st.one_of(
    st.none(),
    st.integers(min_value=-(2**53), max_value=2**53),
    st.floats(allow_nan=False, allow_infinity=False, width=64),
    st.text(max_size=40),
    st.booleans(),
)
_rel = st.text(alphabet="abcdefghij0123456789/_-.", min_size=1, max_size=60)


@given(
    files=st.dictionaries(
        st.text(alphabet="abcxyz=0123456789/_-", max_size=30),
        st.lists(_rel, max_size=5),
        max_size=5,
    ),
    stats=st.dictionaries(
        _rel,
        st.dictionaries(
            st.text(alphabet="abc_", min_size=1, max_size=8),
            st.one_of(_stat_val, st.lists(_stat_val, min_size=2, max_size=2)),
            max_size=4,
        ),
        max_size=5,
    ),
    version=st.integers(min_value=0, max_value=10**6),
    parent=st.one_of(st.none(), st.integers(min_value=0, max_value=10**6)),
)
@settings(max_examples=60, deadline=None)
def test_binary_segment_roundtrip_arbitrary(files, stats, version, parent):
    from ducklake_kafka_connect_spark.lake.table import (
        decode_segment_binary,
        encode_segment_binary,
    )

    d = {
        "version": version,
        "schema": {"type": "struct", "fields": []},
        "pk": ["id"],
        "partition_spec": [],
        "files": files,
        "parent": parent,
        "props": {"last_op": "WRITE"},
        "file_stats": stats,
    }
    assert decode_segment_binary(encode_segment_binary(d)) == d


# ---------------------------------------------------------------------------
# SQL WHERE-conjunct extraction: conservative by construction — any row
# satisfying the full WHERE must satisfy every extracted per-table
# predicate (else pruning with it could drop matching rows)
# ---------------------------------------------------------------------------

from ducklake_kafka_connect_spark.lake.sql_prune import (  # noqa: E402
    extract_table_predicates,
    strip_catalog_prefix,
)

_atom = st.one_of(
    st.tuples(st.sampled_from(["a", "b"]),
              st.sampled_from(["=", "<", "<=", ">", ">=", "!="]),
              st.integers(-20, 20)),
    st.tuples(st.just("s"), st.just("="),
              st.text(alphabet="xy'", max_size=4)),
)


def _atom_sql(a):
    col, op, lit = a
    return f"{col} {op} {lit}" if isinstance(lit, int) else (
        f"{col} {op} '" + lit.replace("'", "''") + "'"
    )


def _atom_true(a, row):
    col, op, lit = a
    v = row[col]
    return {"=": v == lit, "!=": v != lit, "<": v < lit,
            "<=": v <= lit, ">": v > lit, ">=": v >= lit}[op]


@settings(max_examples=120, deadline=None)
@given(
    st.lists(_atom, min_size=1, max_size=4),
    st.booleans(),  # inject a top-level OR → extraction must bail
    st.lists(
        st.fixed_dictionaries({
            "a": st.integers(-25, 25),
            "b": st.integers(-25, 25),
            "s": st.text(alphabet="xy'", max_size=4),
        }),
        min_size=1, max_size=8,
    ),
)
def test_sql_extraction_is_conservative(atoms, with_or, rows):
    where = " AND ".join(_atom_sql(a) for a in atoms)
    if with_or:
        where += " OR a = 999"
    q = f"SELECT * FROM t WHERE {where}"
    got = extract_table_predicates(q, {"t"}, {"t": {"a", "b", "s"}})
    if with_or:
        assert got == {}
        return
    if "t" not in got:
        return  # extracting nothing is always safe
    extracted = got["t"]
    # re-parse the rendered predicate with the skipper's own parser: the
    # rendered text must parse back to provable conjuncts
    from ducklake_kafka_connect_spark.lake.skipping import parse_conjuncts

    back = parse_conjuncts(extracted)
    assert back, f"rendered predicate did not re-parse: {extracted!r}"
    for row in rows:
        if all(_atom_true(a, row) for a in atoms):
            # row matches the full WHERE → must match every extracted
            # conjunct (conservativeness)
            for c in back:
                assert _atom_true((c.column, c.op, c.value), row), (
                    f"row {row} satisfies WHERE but fails extracted {c}"
                )


@settings(max_examples=80, deadline=None)
@given(st.text(max_size=60))
def test_sql_extraction_never_crashes(s):
    extract_table_predicates(s, {"t"}, {"t": {"a"}})
    strip_catalog_prefix(s)


@settings(max_examples=60, deadline=None)
@given(st.text(alphabet=st.characters(codec="ascii"), max_size=60))
def test_strip_prefix_identity_without_namespace(s):
    if "lake.main." not in s.lower():
        assert strip_catalog_prefix(s) == s
