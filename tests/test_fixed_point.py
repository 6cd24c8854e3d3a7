"""The fixed-point loop driver: convergence warnings, the empty-input
stop, bounded lineage, and results that do not depend on the
materialize mode."""

from __future__ import annotations

import warnings

import pytest
from pyspark.sql import functions as F

from gpu_database_spark.functions.materialize import release_all
from gpu_database_spark.llm.dedup import connected_components
from gpu_database_spark.llm.graphrank import (
    bfs_hops,
    hits,
    kcore,
    label_propagation,
    pagerank,
    synth_edges,
)
from gpu_database_spark.sources.catalog import load_table


def _path(spark, n):
    """Nodes 0..n-1 and the path 0-1-...-(n-1) as (a, b) edges."""
    nodes = spark.range(n).select(F.col("id"))
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "a long, b long"
    )
    return nodes, edges


def _src_dst(edges):
    return edges.select(F.col("a").alias("src"), F.col("b").alias("dst"))


def test_kcore_warns_when_max_iters_runs_out(spark):
    # the 2-core of a path is empty, but each round peels only its two
    # end nodes: one round cannot reach the fixpoint
    nodes, edges = _path(spark, 8)
    with pytest.warns(RuntimeWarning, match="no fixed point after 1 rounds"):
        alive = kcore(nodes, _src_dst(edges), 2, max_iters=1)
    assert alive.count() == 6


def test_connected_components_warns_when_max_iters_runs_out(spark):
    # min-labels move one hop per round along the path
    nodes, edges = _path(spark, 8)
    with pytest.warns(RuntimeWarning, match="no fixed point after 1 rounds"):
        labels = connected_components(nodes, edges, max_iters=1)
    assert {r.component for r in labels.collect()} != {0}


def test_converging_loops_do_not_warn(spark):
    nodes, edges = _path(spark, 8)
    seed = nodes.filter(F.col("id") == 0)
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        labels = connected_components(nodes, edges)
        alive = kcore(nodes, _src_dst(edges), 2)
        # the hop bound is where BFS stops, not a failure to converge
        hops = {m: bfs_hops(seed, _src_dst(edges), m) for m in (0, 3)}
    assert {r.component for r in labels.collect()} == {0}
    assert alive.count() == 0
    assert sorted(hops[0].collect()) == [(0, 0)]
    assert sorted(hops[3].collect()) == [(i, i) for i in range(4)]


def test_connected_components_stops_after_one_round_on_empty_graph(spark):
    """An empty node set sums to NULL: converged after one round, so
    even max_iters=1 gives no warning."""
    nodes = spark.range(0).select(F.col("id"))
    edges = spark.createDataFrame([], "a long, b long")
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        labels = connected_components(nodes, edges, max_iters=1)
    assert labels.count() == 0


def _plan_nodes(df) -> int:
    return len(df._jdf.queryExecution().optimizedPlan().treeString().splitlines())


@pytest.mark.parametrize(
    "loop, n_iters",
    [("label_propagation", 3), ("pagerank", 5), ("hits", 2)],
)
def test_returned_plan_does_not_grow_with_round_count(spark, sf_dir, loop, n_iters):
    """The driver checkpoints after the last fixed round, so the frame a
    fixed-round loop returns has the same plan at n and 2n rounds."""
    fn = {"label_propagation": label_propagation, "pagerank": pagerank, "hits": hits}[loop]
    d = load_table(spark, sf_dir, "documents")
    nodes = d.select(F.col("doc_id").alias("id"))
    edges = synth_edges(d)
    sizes = [_plan_nodes(fn(nodes, edges, n)) for n in (n_iters, 2 * n_iters)]
    release_all(spark)
    assert sizes[0] == sizes[1], sizes


@pytest.mark.parametrize(
    "name",
    [
        "graph_kcore",
        "graph_label_propagation",
        "graph_shortest_hops",
        "dedup_clusters",
        "dedup_keep_best_quality",
    ],
)
def test_loop_queries_match_across_materialize_modes(spark, sf_dir, monkeypatch, name):
    from gpu_database_spark.registry import queries

    def rows():
        out = sorted(queries()[name](spark, sf_dir).collect())
        release_all(spark)
        return out

    checkpointed = rows()
    monkeypatch.setenv("SPARK_GRAFT_MATERIALIZE", "persist")
    persisted = rows()
    assert checkpointed, f"{name} returned no rows: test is vacuous"
    assert persisted == checkpointed
