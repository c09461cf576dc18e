"""Every query name bench.py lists must be a registered query.

bench.py is parsed, not imported: no Spark session starts, and a stale
name fails here instead of as a KeyError deep inside a bench run."""

import ast
import os

import pytest

from ducklake_kafka_connect_spark.plans.queries import QUERIES

BENCH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "bench.py")
NAME_LISTS = ("AB_QUERIES", "SF1_QUERIES", "SF1_SINK_TO_PARQUET")


def _bench_name_lists() -> dict[str, list[str]]:
    tree = ast.parse(open(BENCH).read())
    out = {}
    for st in tree.body:
        if isinstance(st, ast.Assign) and len(st.targets) == 1:
            target = st.targets[0]
            if isinstance(target, ast.Name) and target.id in NAME_LISTS:
                assert isinstance(st.value, (ast.List, ast.Set, ast.Tuple)), target.id
                out[target.id] = [ast.literal_eval(e) for e in st.value.elts]
    return out


LISTS = _bench_name_lists()


def test_every_name_list_is_found():
    assert sorted(LISTS) == sorted(NAME_LISTS)


@pytest.mark.parametrize("list_name", NAME_LISTS)
def test_listed_names_are_registered_queries(list_name):
    names = LISTS[list_name]
    assert names, list_name
    assert [n for n in names if n not in QUERIES] == []
