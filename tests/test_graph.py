"""PageRank (`kolang_spark/operators/graph.py`): exact-model equivalence
against a pure-Python replica of the documented integer recurrence,
plus structural invariants (mass conservation, dangling handling)."""

import pytest
from hypothesis import given, settings, strategies as st

from tests.conftest import examples
from pyspark.sql import functions as F

from kolang_spark.operators.graph import pagerank

SCALE, NUM, DEN = 10**9, 85, 100


def _replica(edges, iterations, scale=SCALE, num=NUM, den=DEN):
    """The documented spec, verbatim: integer floor arithmetic only."""
    e = sorted({(u, v) for u, v in edges if u is not None and v is not None})
    nodes = sorted({u for u, _ in e} | {v for _, v in e})
    n = len(nodes)
    if n == 0:
        return {}
    od = {}
    for u, _ in e:
        od[u] = od.get(u, 0) + 1
    r = {v: scale // n for v in nodes}
    tele = (scale * (den - num)) // (den * n)
    for _ in range(iterations):
        dang = sum(r[v] for v in nodes if v not in od)
        ins = {v: 0 for v in nodes}
        for u, v in e:
            ins[v] += r[u] // od[u]
        r = {v: tele + (num * (ins[v] + dang // n)) // den for v in nodes}
    return r


def _run(spark, edges, iterations=5, broadcast_ranks=False):
    df = spark.createDataFrame(edges, "src string, dst string")
    out = pagerank(df, iterations=iterations, broadcast_ranks=broadcast_ranks)
    return {row["node"]: row["rank_fp"] for row in out.collect()}


def test_matches_replica_cycle_with_dangling(spark):
    edges = [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"), ("d", "c"),
             ("a", "b")]  # parallel edge counts once
    assert _run(spark, edges) == _replica(edges, 5)


def test_matches_replica_star_and_chain(spark):
    edges = [("hub", f"x{i}") for i in range(6)] + [
        ("x0", "x1"), ("x1", "x2"), ("x2", "x3")]
    assert _run(spark, edges) == _replica(edges, 5)


def test_all_dangling_bipartite(spark):
    # every dst has outdeg 0 — the dangling path carries ALL the mass
    edges = [("u1", "s1"), ("u1", "s2"), ("u2", "s1")]
    got = _run(spark, edges, iterations=3)
    assert got == _replica(edges, 3)
    assert got["s1"] > got["s2"]  # two in-links beat one


def test_mass_conserved_within_rounding(spark):
    edges = [("a", "b"), ("b", "a"), ("c", "a"), ("c", "b"), ("d", "d")]
    got = _run(spark, edges, iterations=8)
    n = len(got)
    # every floor() drops < 1 unit per node per term; 8 rounds, 3 floors
    assert abs(sum(got.values()) - SCALE) < 4 * n * 8


def test_null_endpoints_dropped(spark):
    edges = [("a", "b"), ("a", None), (None, "b"), ("b", "a")]
    got = _run(spark, edges, iterations=2)
    assert set(got) == {"a", "b"}
    assert got == _replica([("a", "b"), ("b", "a")], 2)


def test_empty_graph(spark):
    got = _run(spark, [], iterations=3)
    assert got == {}


def test_invalid_args(spark):
    df = spark.createDataFrame([("a", "b")], "src string, dst string")
    with pytest.raises(ValueError):
        pagerank(df, iterations=0)
    with pytest.raises(ValueError):
        pagerank(df, damping_num=100, damping_den=100)


def _replica_weighted(edges_w, iterations, scale=SCALE, num=NUM, den=DEN):
    """Weighted spec: parallel edges sum weights; contrib = r·w // wsum."""
    agg = {}
    for u, v, w in edges_w:
        if u is None or v is None or w is None or w <= 0:
            continue
        agg[(u, v)] = agg.get((u, v), 0) + int(w)
    nodes = sorted({u for u, _ in agg} | {v for _, v in agg})
    n = len(nodes)
    if n == 0:
        return {}
    wsum = {}
    for (u, _), w in agg.items():
        wsum[u] = wsum.get(u, 0) + w
    r = {v: scale // n for v in nodes}
    tele = (scale * (den - num)) // (den * n)
    for _ in range(iterations):
        dang = sum(r[v] for v in nodes if v not in wsum)
        ins = {v: 0 for v in nodes}
        for (u, v), w in agg.items():
            ins[v] += (r[u] * w) // wsum[u]
        r = {v: tele + (num * (ins[v] + dang // n)) // den for v in nodes}
    return r


def test_weighted_matches_replica_and_shifts_rank(spark):
    edges = [("a", "x", 9), ("a", "y", 1), ("b", "x", 1), ("b", "y", 1),
             ("a", "x", 1)]  # parallel edge weights SUM (a→x total 10)
    df = spark.createDataFrame(edges, "src string, dst string, wt long")
    got = {r["node"]: r["rank_fp"]
           for r in pagerank(df, iterations=4, weight_col="wt").collect()}
    assert got == _replica_weighted(edges, 4)
    assert got["x"] > got["y"]  # weight concentration shifts rank


@pytest.mark.parametrize("broadcast_ranks", [False, True])
def test_weighted_self_loop_is_a_real_edge(spark, broadcast_ranks):
    # a→a is an edge of weight 3 (not the per-node marker row): a keeps
    # 3/4 of its own rank, and d is a sink
    edges = [("a", "a", 3), ("a", "b", 1), ("b", "a", 2), ("c", "a", 1),
             ("c", "d", 4)]
    df = spark.createDataFrame(edges, "src string, dst string, wt long")
    got = {r["node"]: r["rank_fp"]
           for r in pagerank(df, iterations=3, weight_col="wt",
                             broadcast_ranks=broadcast_ranks).collect()}
    assert got == _replica_weighted(edges, 3)


def test_weighted_unit_weights_equal_unweighted(spark):
    edges = [("a", "b"), ("b", "c"), ("c", "a"), ("d", "c")]
    df = spark.createDataFrame(edges, "src string, dst string")
    plain = {r["node"]: r["rank_fp"]
             for r in pagerank(df, iterations=3).collect()}
    wdf = df.withColumn("wt", F.lit(1))
    weighted = {r["node"]: r["rank_fp"]
                for r in pagerank(wdf, iterations=3,
                                  weight_col="wt").collect()}
    assert plain == weighted


def test_weighted_drops_nonpositive_weights(spark):
    edges = [("a", "b", 5), ("a", "c", 0), ("a", "d", -2), ("a", "e", None)]
    df = spark.createDataFrame(edges, "src string, dst string, wt long")
    got = {r["node"]: r["rank_fp"]
           for r in pagerank(df, iterations=2, weight_col="wt").collect()}
    assert set(got) == {"a", "b"}  # only the positive-weight edge counts
    assert got == _replica_weighted(edges, 2)


def test_broadcast_ranks_bit_identical(spark):
    edges = [("a", "b"), ("b", "c"), ("c", "a"), ("d", "c")]
    df = spark.createDataFrame(edges, "src string, dst string")
    plain = {r["node"]: r["rank_fp"]
             for r in pagerank(df, iterations=3).collect()}
    bcast = {r["node"]: r["rank_fp"]
             for r in pagerank(df, iterations=3,
                               broadcast_ranks=True).collect()}
    assert plain == bcast == _replica(edges, 3)


def test_custom_columns_and_scale(spark):
    df = spark.createDataFrame(
        [("p1", "p2"), ("p2", "p1")], "from_url string, to_url string"
    )
    out = pagerank(df, src="from_url", dst="to_url", iterations=2,
                   scale=10**12, node_col="url", rank_col="pr")
    rows = {r["url"]: r["pr"] for r in out.collect()}
    rep = _replica([("p1", "p2"), ("p2", "p1")], 2, scale=10**12)
    assert rows == rep


@settings(max_examples=examples(15), deadline=None)
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 7), st.integers(0, 7)).map(
            lambda t: (f"n{t[0]}", f"n{t[1]}")
        ),
        min_size=1, max_size=20,
    ),
    iterations=st.integers(1, 4),
)
def test_exact_model_random_graphs(spark_session_global, edges, iterations):
    # self-loops, multi-edges, disconnected nodes, pure sinks — all fair
    want = _replica(edges, iterations)
    for bc in (False, True):
        assert _run(spark_session_global, edges, iterations, bc) == want


@pytest.fixture(scope="module")
def spark_session_global(spark):
    return spark
