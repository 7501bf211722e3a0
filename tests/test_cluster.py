"""Direct unit tests for large-star/small-star connected components
(non-vacuous: known graphs with known components).  Every graph runs
through BOTH paths, chosen by forcing the driver-finish threshold: the
driver-side union-find small-tail finish and the fully-distributed
star fixpoint (threshold 0)."""

import contextlib

import pytest
from hypothesis import HealthCheck, example, given, settings, strategies as st

from tests.conftest import union_find_labels

BOTH_PATHS = pytest.mark.parametrize("driver_finish", [1_000_000, 0],
                                     ids=["driver-finish", "distributed"])


def _cc(spark, driver_finish_at, edges, driver_finish):
    from fuzzspark.pipeline import connected_components
    df = spark.createDataFrame(edges, "left_id: long, right_id: long")
    with driver_finish_at(driver_finish):
        got = connected_components(df).collect()
    labels = {r["id"]: r["cluster_id"] for r in got}
    assert labels == union_find_labels(edges)
    return labels


@BOTH_PATHS
def test_chain(spark, driver_finish_at, driver_finish):
    # 1-2-3-4 chain + isolated pair
    labels = _cc(spark, driver_finish_at,
                 [(1, 2), (2, 3), (3, 4), (10, 11)], driver_finish)
    assert labels == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


@BOTH_PATHS
def test_star_and_triangle(spark, driver_finish_at, driver_finish):
    labels = _cc(spark, driver_finish_at,
                 [(5, 1), (5, 2), (5, 3), (7, 8), (8, 9), (7, 9)],
                 driver_finish)
    assert labels == {1: 1, 2: 1, 3: 1, 5: 1, 7: 7, 8: 7, 9: 7}


@BOTH_PATHS
def test_long_path_exceeds_one_round(spark, driver_finish_at, driver_finish):
    # path of 33 nodes: star-contraction needs several rounds
    edges = [(i, i + 1) for i in range(32)]
    labels = _cc(spark, driver_finish_at, edges, driver_finish)
    assert set(labels.values()) == {0}
    assert len(labels) == 33


@BOTH_PATHS
def test_duplicate_and_reversed_edges(spark, driver_finish_at, driver_finish):
    labels = _cc(spark, driver_finish_at,
                 [(2, 1), (1, 2), (2, 3), (3, 2), (2, 3)], driver_finish)
    assert labels == {1: 1, 2: 1, 3: 1}


def test_driver_finish_kicks_in_mid_contraction(spark, driver_finish_at):
    """threshold between the initial and contracted edge counts: the
    star rounds run first, then the union-find finishes the tail —
    labels must still be the component minimum."""
    edges = [(i, i + 1) for i in range(40)] + [(100, 101), (101, 102)]
    # symmetrized+distinct initial count = 84 edges > 30 threshold
    labels = _cc(spark, driver_finish_at, edges, 30)
    assert set(labels.values()) == {0, 100}
    assert len(labels) == 44


def test_unconverged_star_rounds_raise(spark, driver_finish_at, monkeypatch):
    """When the star-round guard is reached before the fixpoint, CC
    raises instead of labelling an unconverged graph.  AQE coalescing
    is off so the co-partitioned contraction keeps its 8 partitions and
    leaves a graph that needs several star rounds."""
    from fuzzspark.pipeline import cluster

    edges = [(i, i + 1) for i in range(64)]
    df = spark.createDataFrame(edges, "left_id: long, right_id: long") \
        .repartition(8)
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        with driver_finish_at(0):
            stats: dict = {}
            got = cluster.connected_components(df, stats=stats).collect()
            assert {r.id: r.cluster_id for r in got} \
                == union_find_labels(edges)
            assert len(stats["round_edges"]) > 2, stats
            monkeypatch.setattr(cluster, "_MAX_STAR_ROUNDS", 1)
            with pytest.raises(RuntimeError, match="round_edges"):
                cluster.connected_components(df)
    finally:
        spark.conf.set(key, prev)


def _path(n):
    return [(i, i + 1) for i in range(n)]


def _grid(w, h):
    return ([(y * w + x, y * w + x + 1) for y in range(h) for x in range(w - 1)]
            + [(y * w + x, (y + 1) * w + x) for y in range(h - 1)
               for x in range(w)])


GRAPHS = st.one_of(
    st.integers(1, 80).map(_path),
    st.integers(1, 40).map(lambda n: [(0, i) for i in range(1, n + 1)]),
    st.tuples(st.integers(2, 8), st.integers(2, 8)).map(lambda t: _grid(*t)),
    # random graphs, self-loops included
    st.lists(st.tuples(st.integers(0, 60), st.integers(0, 60)),
             min_size=1, max_size=120),
    st.tuples(st.integers(1, 30), st.lists(st.integers(0, 40), max_size=10))
    .map(lambda t: _path(t[0]) + [(x, x) for x in t[1]]),
)


@contextlib.contextmanager
def _conf(spark, **values):
    prev = {k: spark.conf.get(k) for k in values}
    for k, v in values.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


@settings(max_examples=20, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(edges=GRAPHS, partitions=st.sampled_from([1, 3, 8]),
       coalesce=st.booleans(), finish=st.sampled_from([0, 1_000_000]))
@example(edges=_path(64), partitions=8, coalesce=False, finish=0)
def test_contraction_never_grows_the_graph(spark, driver_finish_at, edges,
                                           partitions, coalesce, finish):
    """Every step of the plan keeps the labels of the union-find oracle
    and never grows the graph it was given: no kept co-partitioned
    pass has more edges than entered it, and the star rounds start
    from no more than the symmetrized input.  Without coalescing, a
    pass over several partitions can emit an edge per neighbour per
    partition (a 64-edge path on 8 partitions grew to 404 edges)."""
    from fuzzspark.pipeline.cluster import connected_components

    sym = {(u, v) for a, b in edges if a != b for u, v in ((a, b), (b, a))}
    with _conf(spark, **{
            "spark.sql.shuffle.partitions": str(partitions),
            "spark.sql.adaptive.coalescePartitions.enabled": str(coalesce)
            .lower()}), driver_finish_at(finish):
        df = spark.createDataFrame(edges, "left_id: long, right_id: long") \
            .repartition(partitions)
        stats: dict = {}
        got = connected_components(df, stats=stats).collect()
    assert {r.id: r.cluster_id for r in got} == union_find_labels(edges)
    kept = stats.get("phase2_edges", [])
    for entered, n in zip([stats["contract_edges_in"], *kept], kept):
        assert n <= entered, stats
    assert stats["round_edges"][0] <= len(sym), stats
