"""Known-truth tests for the graph pack (operators/graph.py) on
hand-built graphs where the exact answer is computable by eye."""

from __future__ import annotations

from peerdb_cdc_psql_psql_spark.operators.graph import part_triangle_stats


def _write_lineitem(spark, path, baskets: dict[int, list[int]]) -> None:
    rows = [
        (ok, pk, 1)
        for ok, parts in baskets.items()
        for pk in parts
    ]
    spark.createDataFrame(
        rows, "l_orderkey long, l_partkey long, l_quantity long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/lineitem.parquet")


def test_triangle_stats_known_graph(spark, tmp_path):
    # order 1 -> clique {1,2,3}; order 2 -> edge {3,4}
    # edges: 12 13 23 34; degrees 1:2 2:2 3:3 4:1
    # wedges: 1+1+3+0 = 5; triangles: {1,2,3} -> 1
    # clustering = 3*1*10000 // 5 = 6000 bp
    _write_lineitem(spark, str(tmp_path), {1: [1, 2, 3], 2: [3, 4]})
    row = part_triangle_stats(spark, str(tmp_path)).collect()[0]
    assert row.asDict() == {
        "n_nodes": 4, "n_edges": 4, "n_wedges": 5,
        "n_triangles": 1, "clustering_bp": 6000,
    }


def test_triangle_stats_two_cliques_and_hub(spark, tmp_path):
    # two 4-cliques sharing no edge + a hub order chaining them
    # K4 has 4 triangles; hub basket {4, 5} adds edge 4-5, no triangle
    _write_lineitem(
        spark, str(tmp_path),
        {1: [1, 2, 3, 4], 2: [5, 6, 7, 8], 3: [4, 5]},
    )
    row = part_triangle_stats(spark, str(tmp_path)).collect()[0]
    assert row["n_triangles"] == 8  # 4 per K4
    assert row["n_edges"] == 13  # 6 + 6 + 1
    # degrees: K4 members 3 each, except 4 and 5 have 4
    # wedges = 6*C(3,2) + 2*C(4,2) = 6*3 + 2*6 = 30
    assert row["n_wedges"] == 30
    assert row["clustering_bp"] == 3 * 8 * 10000 // 30


def test_triangle_stats_triangle_free(spark, tmp_path):
    # a star (one order of 2-item baskets around part 9) has no
    # triangle; wedge count nonzero -> coefficient 0
    _write_lineitem(
        spark, str(tmp_path),
        {1: [9, 1], 2: [9, 2], 3: [9, 3]},
    )
    row = part_triangle_stats(spark, str(tmp_path)).collect()[0]
    assert row["n_triangles"] == 0
    assert row["n_wedges"] == 3
    assert row["clustering_bp"] == 0


def test_bfs_known_graph_and_cache_release(spark, tmp_path):
    """graph_bfs_levels on a hand-built path graph: exact level sets,
    AND (persist discipline, r14) every round cache is released before
    the fn returns — a long-lived session must not accumulate one
    leaked level-set cache per execution."""
    from peerdb_cdc_psql_psql_spark.operators.graph import graph_bfs_levels

    # chain 1-2, 2-3, 3-4, 4-5: from min node 1, levels 0..3 reach
    # {1},{2},{3},{4} (cap 3) — node 5 stays unreached
    _write_lineitem(
        spark, str(tmp_path), {1: [1, 2], 2: [2, 3], 3: [3, 4], 4: [4, 5]}
    )
    spark.catalog.clearCache()
    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    cached_before = cache_manager.cachedData().size()
    rows = {
        r["lvl"]: (r["n_nodes"], r["sum_nodes"])
        for r in graph_bfs_levels(spark, str(tmp_path)).collect()
    }
    assert rows == {0: (1, 1), 1: (1, 2), 2: (1, 3), 3: (1, 4)}
    # the fn leaves no cache entry behind: the cache manager holds as
    # many entries after the collect as before the call
    assert cache_manager.cachedData().size() == cached_before
