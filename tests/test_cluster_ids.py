"""dedup.cluster_ids: equivalence with a driver-side union-find on random
graphs, and a per-round plan whose size does not depend on the round."""

import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

from tuatara_spark.ops import dedup as dd

_ID = st.integers(min_value=0, max_value=13)
_DOCS = st.lists(st.integers(min_value=0, max_value=11), min_size=1,
                 max_size=10, unique=True)
# ids 12 and 13 never appear in docs: pairs naming them must be ignored
_PAIRS = st.lists(st.tuples(_ID, _ID), max_size=16)


def _reference(ids, pairs, max_iters):
    """Expected labels: union-find with the smaller root winning (the
    component minimum) when converged; the minimum over the closed
    neighbourhood when ``max_iters=1``."""
    present = set(ids)
    kept = [(a, b) for a, b in pairs if a in present and b in present]
    if max_iters == 1:
        nbhd = {i: {i} for i in present}
        for a, b in kept:
            nbhd[a].add(b)
            nbhd[b].add(a)
        return {i: min(n) for i, n in nbhd.items()}
    parent = {i: i for i in present}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in kept:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {i: find(i) for i in present}


@pytest.mark.parametrize("kind", ["int", "string"])
@settings(max_examples=6, deadline=None)
@given(ids=_DOCS, pairs=_PAIRS)
@example(ids=[0, 1, 2, 3], pairs=[])
@example(ids=[0, 1, 2, 5, 10], pairs=[(1, 0), (0, 1), (0, 1), (2, 2),
                                      (2, 12), (13, 5), (10, 2), (5, 1)])
def test_cluster_ids_matches_union_find(spark, kind, ids, pairs):
    # string ids "10" < "2": the label is the lexicographic minimum
    conv = int if kind == "int" else str
    ids = [conv(i) for i in ids]
    pairs = [(conv(a), conv(b)) for a, b in pairs]
    docs = spark.createDataFrame([(i,) for i in ids], f"doc_id {kind}")
    pdf = spark.createDataFrame(pairs, f"id_a {kind}, id_b {kind}")
    for max_iters in (1, 50):
        out = dd.cluster_ids(docs, pdf, max_iters=max_iters)
        rows = out.collect()
        dd.release_caches()
        assert out.schema["cluster_id"].dataType == \
            docs.schema["doc_id"].dataType
        assert len(rows) == len(ids)
        assert ({r.doc_id: r.cluster_id for r in rows}
                == _reference(ids, pairs, max_iters))


def _chain_plan_nodes(spark, n):
    docs = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    pairs = spark.createDataFrame([(i, i + 1) for i in range(n - 1)],
                                  "id_a long, id_b long")
    out = dd.cluster_ids(docs, pairs)
    nodes = len(out._jdf.queryExecution().analyzed()
                .numberedTreeString().splitlines())
    assert {r.cluster_id for r in out.collect()} == {0}
    dd.release_caches()
    return nodes


def test_cluster_ids_plan_size_flat_in_rounds(spark):
    """A 6-node chain needs 3x the rounds of a 2-node chain; the returned
    plan must not grow with them (chained per-round DataFrames double)."""
    assert _chain_plan_nodes(spark, 2) == _chain_plan_nodes(spark, 6)
