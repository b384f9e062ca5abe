"""Degree-orientation behavior for triangle counting: the (degree, id)
total order must neutralize hub-centered wedge blowup (the adversarial
skew case the id-orientation cannot bound) while leaving triangle
counts unchanged on any graph.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from eventstream_benchmark_spark.operators.graph import (
    _count_triangles,
    _degree_oriented,
)


def test_star_graph_centers_zero_wedges(spark):
    """Hub-and-spokes: id-orientation (hub = lowest id) would center
    all C(50,2) = 1225 wedges at the hub; degree orientation points
    every degree-1 spoke INTO the degree-50 hub, so the wedge join
    materializes nothing."""
    edges = spark.createDataFrame([(0, i) for i in range(1, 51)], "p1 long, p2 long")
    o = _degree_oriented(edges)
    assert o.filter(F.col("dst") == 0).count() == 50  # all edges into the hub
    wedges = o.alias("ab").join(
        o.alias("bc"), F.col("ab.dst") == F.col("bc.src")
    )
    assert wedges.count() == 0
    assert _count_triangles(o).count() == 0


def test_k4_counts_four_triangles(spark):
    edges = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    e = spark.createDataFrame(edges, "p1 long, p2 long")
    assert _count_triangles(_degree_oriented(e)).count() == 4


def test_triangle_plus_pendant(spark):
    """A triangle with a pendant edge: exactly one triangle, and the
    pendant (degree-1) vertex orients toward the triangle."""
    e = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (3, 4)], "p1 long, p2 long"
    )
    assert _count_triangles(_degree_oriented(e)).count() == 1


def test_closing_join_broadcasts_below_cap_only(spark):
    """The two adjacency (neighbor-array) joins must never force the
    oriented edge stream through an exchange when the edge set fits an
    executor: at TRIANGLE_BROADCAST_CAP both plan as broadcast hash
    joins; one edge above (where the hashed relation outgrows ordinary
    executor memory) they fall back to shuffled joins, and an unknown
    count (None) takes the safe unhinted plan. The probes straddle the
    actual constant so raising the cap cannot silently untest the
    fallback, and the assertion is DIFFERENTIAL — the two plans differ
    only in the adjacency-join hints, so below-cap must carry strictly
    more broadcast joins than above-cap."""
    from eventstream_benchmark_spark.operators.graph import TRIANGLE_BROADCAST_CAP

    e = spark.createDataFrame(
        [(a, b) for a in range(6) for b in range(a + 1, 6)], "p1 long, p2 long"
    )
    o = _degree_oriented(e)

    def plan(n_edges):
        df = _count_triangles(o, n_edges=n_edges)
        return df._jdf.queryExecution().executedPlan().toString()

    below = plan(TRIANGLE_BROADCAST_CAP)
    above = plan(TRIANGLE_BROADCAST_CAP + 1)
    unknown = plan(None)
    assert below.count("BroadcastHashJoin") > above.count("BroadcastHashJoin")
    # above-cap / unknown: the adjacency joins keep a shuffled spelling
    assert ("SortMergeJoin" in above) or ("ShuffledHashJoin" in above)
    assert unknown.count("BroadcastHashJoin") == above.count("BroadcastHashJoin")
    # both strategies agree on the count (K6 has C(6,3) triangles)
    assert _count_triangles(o, n_edges=TRIANGLE_BROADCAST_CAP + 1).count() == 20
    assert _count_triangles(o, n_edges=TRIANGLE_BROADCAST_CAP).count() == 20
