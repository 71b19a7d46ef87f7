"""Hand-verified fixtures for the round-3 graph-analytics operators
(degree-oriented triangle counting, shared-neighbor link prediction,
bounded-hop BFS — the w = 1 case of graph.shortest_distances) and batch
sessionization. The driver oracle checks the same operators value-exactly
against DuckDB on the sf corpora; these fixtures pin the SEMANTICS on
graphs small enough to verify by eye."""

from __future__ import annotations

from pyspark.sql import functions as F

from kgforge.ops import graph
from kgforge.ops.relational import SESSION_GAP_US, sessionize


def _und(spark, pairs):
    return spark.createDataFrame(sorted(pairs), "a string, b string")


def test_triangle_counts_k4(spark):
    # K4: every node sits on C(3,2)=3 triangles; the pendant edge adds none.
    k4 = [("n1", "n2"), ("n1", "n3"), ("n1", "n4"), ("n2", "n3"),
          ("n2", "n4"), ("n3", "n4"), ("n5", "n6")]
    got = {r["node_id"]: r["triangles"]
           for r in graph.triangle_counts(_und(spark, k4)).collect()}
    assert got == {"n1": 3, "n2": 3, "n3": 3, "n4": 3}


def test_triangle_counts_hub_star_plus_one(spark):
    # Star K1,4 has no triangles; closing one spoke pair makes exactly one.
    edges = [("hub", "s1"), ("hub", "s2"), ("hub", "s3"), ("hub", "s4"),
             ("s1", "s2")]
    got = {r["node_id"]: r["triangles"]
           for r in graph.triangle_counts(_und(spark, edges)).collect()}
    assert got == {"hub": 1, "s1": 1, "s2": 1}


def test_jaccard_square(spark):
    # 4-cycle a-b-c-d: the two diagonals are the only non-adjacent pairs;
    # each shares BOTH neighbors => jaccard = 2/2 = 1.000, rank 1.
    sq = [("a", "b"), ("b", "c"), ("c", "d"), ("a", "d")]
    rows = graph.jaccard_candidates(_und(spark, sq)).collect()
    got = {(r["node_a"], r["node_b"]): (r["common"], r["total"],
                                        r["jaccard_x1000"], r["rk"])
           for r in rows}
    assert got == {("a", "c"): (2, 2, 1000, 1), ("b", "d"): (2, 2, 1000, 1)}


def test_jaccard_excludes_adjacent_and_min_common(spark):
    # Triangle a-b-c plus pendant c-d: every wedge pair is adjacent or
    # shares only one neighbor (< JACCARD_MIN_COMMON=2) => no candidates.
    tri = [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d")]
    assert graph.jaccard_candidates(_und(spark, tri)).count() == 0


def _unit_adj(und):
    """Both directions of ``und(a, b)`` as ``adj(u, v, w)`` with w = 1: BFS."""
    w = F.lit(1).cast("bigint").alias("w")
    return und.select(F.col("a").alias("u"), F.col("b").alias("v"), w).unionAll(
        und.select(F.col("b").alias("u"), F.col("a").alias("v"), w)
    )


def test_bfs_path_distances(spark):
    # Path n0-..-n5 from seed n0: BFS_ITERS=4 hops reach n4, not n5.
    path = [(f"n{i}", f"n{i + 1}") for i in range(5)]
    und = _und(spark, path)
    adj = _unit_adj(und)
    seeds = spark.createDataFrame([("n0",)], "node string")
    got = {r["node_id"]: r["dist"]
           for r in graph.shortest_distances(adj, seeds, graph.BFS_ITERS)
           .collect()}
    assert got == {"n0": 0, "n1": 1, "n2": 2, "n3": 3, "n4": 4}


def test_bfs_multi_source_min(spark):
    # Two seeds at both ends of the path: distances are the min over seeds.
    path = [(f"n{i}", f"n{i + 1}") for i in range(4)]
    und = _und(spark, path)
    adj = _unit_adj(und)
    seeds = spark.createDataFrame([("n0",), ("n4",)], "node string")
    got = {r["node_id"]: r["dist"]
           for r in graph.shortest_distances(adj, seeds, graph.BFS_ITERS)
           .collect()}
    assert got == {"n0": 0, "n1": 1, "n2": 2, "n3": 1, "n4": 0}


def test_shortest_distances_cuts_adjacency_once(spark):
    """The relaxation joins a localCheckpoint leaf of the adjacency: an
    operator of the input's plan (here a Window) appears zero times in the
    loop plan, and a call adds no CacheManager entry, so repeated calls
    stack no cached copies."""
    import re

    from pyspark.sql import Window

    raw = spark.createDataFrame(
        [("n0", "n1", 1, 1), ("n0", "n1", 5, 2), ("n1", "n2", 2, 1),
         ("n0", "n2", 9, 1)],
        "a string, b string, w long, v int",
    )
    first = F.row_number().over(Window.partitionBy("a", "b").orderBy("v"))
    und = raw.withColumn("rn", first).where("rn = 1")
    adj = und.select(F.col("a").alias("u"), F.col("b").alias("v"), "w").unionAll(
        und.select(F.col("b").alias("u"), F.col("a").alias("v"), "w")
    )
    seeds = spark.createDataFrame([("n0",)], "node string")
    cache = spark._jsparkSession.sharedState().cacheManager()
    before = cache.numCachedEntries()
    dist = graph.shortest_distances(adj, seeds, 3)
    assert cache.numCachedEntries() == before
    plan = dist._jdf.queryExecution().optimizedPlan().treeString()
    assert re.findall(r"\bWindow\b", plan) == []
    got = {r["node_id"]: r["dist"] for r in dist.collect()}
    assert got == {"n0": 0, "n1": 1, "n2": 3}


def test_sessionize_gap_boundaries(spark):
    # User 1: three events, the third exactly GAP+1us after the second =>
    # new session. User 2: one event. Boundary at exactly GAP stays inside.
    g = SESSION_GAP_US
    rows = [
        (1, 10, 0), (1, 11, g), (1, 12, 2 * g + 1),
        (2, 20, 5),
    ]
    e = spark.createDataFrame(rows, "user_id long, event_id long, micros long")
    got = {(r["user_id"], r["session_idx"]): (r["n_events"], r["start_us"],
                                              r["end_us"])
           for r in sessionize(e).collect()}
    assert got == {
        (1, 1): (2, 0, g),          # events 10,11 — gap == GAP not > GAP
        (1, 2): (1, 2 * g + 1, 2 * g + 1),
        (2, 1): (1, 5, 5),
    }


# ------------------------------------------------- incremental CDC triangles
def test_changed_corners_all_edges_inserted_counts_once(spark):
    """K4 with ALL 6 edges inserted: 4 triangles, each containing THREE
    changed edges — each must be attributed to exactly one (its smallest),
    so every node's corner count is 3, not 9."""
    k4 = [("n1", "n2"), ("n1", "n3"), ("n1", "n4"), ("n2", "n3"),
          ("n2", "n4"), ("n3", "n4")]
    ins = _und(spark, k4)
    adj = ins.select(F.col("a").alias("u"), F.col("b").alias("v")).unionAll(
        ins.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )

    def live(lo, hi):
        # no persisting edges: live == 'inserted AND sorts after (a, b)'
        return F.struct(lo.alias("x"), hi.alias("y")) > F.struct(
            F.col("a").alias("x"), F.col("b").alias("y")
        )

    got = {
        r["node_id"]: r["cnt"]
        for r in graph.changed_edge_triangle_corners(ins, adj, live)
        .groupBy("node_id")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    assert got == {"n1": 3, "n2": 3, "n3": 3, "n4": 3}


def test_triangles_cdc_equals_rebuild(spark):
    """The registered incremental op must equal a from-scratch Spark
    re-enumeration of the NEW snapshot (the DuckDB oracle proves the same
    equality cross-engine; this pins it engine-internally at sf0.001)."""
    sf = "/root/testdata/sf0.001"
    und = graph.undirected_entity_edges(spark, sf)
    new_e = und.where(
        graph._edge_nib(F.col("a"), F.col("b")) >= graph.CDC_DEL_MAX
    )
    want = {
        (r["node_id"], r["triangles"])
        for r in graph.triangle_counts(new_e).collect()
    }
    got = {
        (r["node_id"], r["triangles"])
        for r in graph.graph_triangles_cdc(spark, sf).collect()
    }
    assert got == want and got


def test_kcore_peels_path_keeps_cycle(spark):
    """P4 path (a-b-c-d) + C4 cycle (w-x-y-z) at K = median degree = 2:
    round 1 peels the path's endpoints, round 2 the rest of the path (their
    degrees fell to 1); the cycle is a true 2-core and survives unchanged."""
    edges = [("a", "b"), ("b", "c"), ("c", "d"),
             ("w", "x"), ("x", "y"), ("y", "z"), ("w", "z")]
    und = spark.createDataFrame(edges, "a string, b string")
    got = {r.part_id: r.deg for r in graph.kcore_peel(und, pct=0.5).collect()}
    assert got == {"w": 2, "x": 2, "y": 2, "z": 2}


def test_kcore_stable_graph_is_fixpoint(spark):
    """A graph already at its core (C4, K=2) must pass through peeling
    unchanged — rounds beyond convergence are no-ops."""
    edges = [("w", "x"), ("x", "y"), ("y", "z"), ("w", "z")]
    und = spark.createDataFrame(edges, "a string, b string")
    got = {r.part_id: r.deg for r in graph.kcore_peel(und, pct=0.5, rounds=5).collect()}
    assert got == {"w": 2, "x": 2, "y": 2, "z": 2}
