"""Property test (hypothesis) for connected components: on random edge
lists the one-task local finish, the distributed star loop (budget 0)
and a pure-Python union-find give identical ``(id, cluster_id)`` maps.

The string ids mix ASCII, Latin-1, CJK, a halfwidth form (U+FF61) and
an astral emoji (U+1F600). The last two sort in opposite orders by UTF-16
code unit and by code point, so the local finish's pandas sort must
agree with Spark's binary UTF-8 order for the component minima to
match. The reference orders strings by their UTF-8 bytes, as Spark does.
"""

from __future__ import annotations

import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

from dedup_spark.operators import components
from dedup_spark.operators.components import connected_components

STR_IDS = st.text(alphabet="aZéÿß中｡\U0001F600", max_size=3)
BIGINT_IDS = st.integers(min_value=-(2**63), max_value=2**63 - 1)


@st.composite
def graphs(draw, ids):
    """Edge lists over a small node pool, so components, duplicates
    and self-loops are common; optionally every edge again reversed.
    The empty graph is included."""
    pool = draw(st.lists(ids, min_size=1, max_size=10, unique=True))
    node = st.sampled_from(pool)
    edges = draw(st.lists(st.tuples(node, node), max_size=16))
    if draw(st.booleans()):
        edges += [(b, a) for a, b in edges]
    return edges


def _union_find(edges, key):
    """Component-minimum labels by ``key`` order. A node seen only in
    self-loops has no label: CC drops self-loops before clustering."""
    parent = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        if a == b:
            continue
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = sorted((ra, rb), key=key)
            parent[hi] = lo
    return {x: find(x) for x in parent}


def _cc(spark, edges, sql_type, budget):
    df = spark.createDataFrame(edges, f"id1 {sql_type}, id2 {sql_type}")
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(components, "_LOCAL_EDGE_BUDGET", budget)
        rows = connected_components(df).collect()
    got = {r["id"]: r["cluster_id"] for r in rows}
    assert len(got) == len(rows)  # one row per node
    return got


def _check(spark, edges, sql_type, key):
    expect = _union_find(edges, key)
    local = _cc(spark, edges, sql_type, components._LOCAL_EDGE_BUDGET)
    star = _cc(spark, edges, sql_type, 0)
    assert local == expect
    assert star == expect


@given(edges=graphs(STR_IDS))
@example(edges=[("｡", "\U0001F600")])
@settings(max_examples=20, deadline=None)
def test_string_ids_local_star_and_union_find_agree(spark, edges):
    _check(spark, edges, "string", key=lambda s: s.encode("utf-8"))


@given(edges=graphs(BIGINT_IDS))
@settings(max_examples=12, deadline=None)
def test_bigint_ids_local_star_and_union_find_agree(spark, edges):
    _check(spark, edges, "bigint", key=lambda x: x)
