"""PageRank vs a dense numpy power-iteration oracle on the same graph."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from gpu_database_spark.llm.graphrank import (
    DAMPING,
    N_ITERS,
    pagerank,
    synth_edges,
)
from gpu_database_spark.sources.catalog import load_table


def _numpy_pagerank(n, edge_list, n_iters):
    out_deg = np.zeros(n)
    for s, _ in edge_list:
        out_deg[s] += 1
    r = np.full(n, 1.0 / n)
    for _ in range(n_iters):
        inbound = np.zeros(n)
        for s, d in edge_list:
            inbound[d] += r[s] / out_deg[s]
        dangling = r[out_deg == 0].sum()
        r = (1 - DAMPING) / n + DAMPING * (inbound + dangling / n)
    return r


def test_pagerank_matches_numpy(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    nodes = d.select(F.col("doc_id").alias("id"))
    edges = synth_edges(d)
    got = {r.id: r.rank for r in pagerank(nodes, edges, N_ITERS).collect()}

    n = int(d.agg(F.max("doc_id")).collect()[0][0]) + 1
    edge_list = [(r.src, r.dst) for r in edges.collect()]
    want = _numpy_pagerank(n, edge_list, N_ITERS)

    assert len(got) == n
    total = sum(got.values())
    assert abs(total - 1.0) < 1e-9, f"ranks must sum to 1, got {total}"
    worst = max(abs(got[i] - want[i]) for i in range(n))
    assert worst < 1e-12, f"max |spark - numpy| = {worst}"


def _loop_calls():
    """One call per loop on the fixed-point driver: name -> run(d),
    where d is the documents table and run returns the loop's frame."""
    from gpu_database_spark.llm.dedup import connected_components
    from gpu_database_spark.llm.graphrank import (
        BFS_MAX_HOPS,
        BFS_N_SEEDS,
        KCORE_K,
        bfs_hops,
        hits,
        kcore,
        label_propagation,
    )

    def nodes(d):
        return d.select(F.col("doc_id").alias("id"))

    return {
        "pagerank": lambda d: pagerank(nodes(d), synth_edges(d), N_ITERS),
        "kcore": lambda d: kcore(nodes(d), synth_edges(d), KCORE_K),
        "label_propagation": lambda d: label_propagation(nodes(d), synth_edges(d)),
        "hits": lambda d: hits(nodes(d), synth_edges(d)),
        "bfs_hops": lambda d: bfs_hops(
            nodes(d).filter(F.col("id") < BFS_N_SEEDS), synth_edges(d), BFS_MAX_HOPS
        ),
        "connected_components": lambda d: connected_components(
            nodes(d),
            synth_edges(d).select(F.col("src").alias("a"), F.col("dst").alias("b")),
        ),
    }


@pytest.mark.parametrize("loop", sorted(_loop_calls()))
def test_driver_loop_leaves_no_persistent_rdd_after_release_all(spark, sf_dir, loop):
    """Every block a loop persists (its static edge frame and every
    round's checkpoint) is owned by the materialize module, so
    release_all frees it: nothing the call created outlives the query."""
    from gpu_database_spark.functions.materialize import release_all

    jsc = spark.sparkContext._jsc

    def persistent() -> set[int]:
        return set(jsc.getPersistentRDDs().keySet().toArray())

    d = load_table(spark, sf_dir, "documents")
    before = persistent()
    _loop_calls()[loop](d).collect()
    assert persistent() - before, f"{loop} persisted nothing: test is vacuous"
    release_all(spark)
    assert not persistent() - before


def test_pagerank_ranks_hubs_first(spark, sf_dir):
    """The query's top-50 must be ordered by rank and favor high
    in-degree nodes overall (rank correlates with in-degree on a
    uniform random graph)."""
    from gpu_database_spark.registry import queries

    rows = queries()["graph_pagerank"](spark, sf_dir).collect()
    ranks = [r.rank for r in rows]
    assert ranks == sorted(ranks, reverse=True)
    mean_top_deg = sum(r.in_deg for r in rows[:10]) / 10
    mean_tail_deg = sum(r.in_deg for r in rows[-10:]) / 10
    assert mean_top_deg >= mean_tail_deg


def test_kcore_matches_serial_peeling(spark, sf_dir):
    """Distributed k-core == serial Python peeling on the same graph."""
    from collections import defaultdict

    from gpu_database_spark.llm.graphrank import KCORE_K, synth_edges
    from gpu_database_spark.sources.catalog import load_table
    from gpu_database_spark import registry

    d = load_table(spark, sf_dir, "documents")
    edge_rows = {(r.src, r.dst) for r in synth_edges(d).collect()}
    adj = defaultdict(set)
    for s, t in edge_rows:
        adj[s].add(t)
        adj[t].add(s)
    alive = {r.doc_id for r in d.select("doc_id").collect()}
    while True:
        drop = {n for n in alive if len(adj[n] & alive) < KCORE_K}
        if not drop:
            break
        alive -= drop
    got = {r.doc_id: r.core_degree for r in registry.queries()["graph_kcore"](spark, sf_dir).collect()}
    assert set(got) == alive
    for n in alive:
        assert got[n] == len(adj[n] & alive), n


def test_label_propagation_matches_serial_replica(spark, sf_dir):
    """The distributed synchronous LPA must produce the identical
    label assignment as a serial Python replay of the same rounds
    (self-vote, most-frequent label, ties to the smallest)."""
    from collections import Counter, defaultdict

    from pyspark.sql import functions as F

    from gpu_database_spark.llm.graphrank import (
        LPA_ITERS,
        label_propagation,
        synth_edges,
    )
    from gpu_database_spark.sources.catalog import load_table

    d = load_table(spark, sf_dir, "documents").select(F.col("doc_id").alias("id"))
    edges = synth_edges(d.select(F.col("id").alias("doc_id")))
    got = {
        r.id: r.lbl for r in label_propagation(d, edges).collect()
    }

    nbrs = defaultdict(set)
    for r in edges.collect():
        nbrs[r.src].add(r.dst)
        nbrs[r.dst].add(r.src)
    ids = [r.id for r in d.collect()]
    lbl = {i: i for i in ids}
    for _ in range(LPA_ITERS):
        new = {}
        for i in ids:
            c = Counter(lbl[j] for j in nbrs[i])
            c[lbl[i]] += 1
            best = max(c.items(), key=lambda kv: (kv[1], -kv[0]))
            new[i] = best[0]
        lbl = new
    assert got == lbl


def test_hits_matches_numpy(spark, sf_dir):
    """Distributed HITS must agree with a dense numpy replica of the
    same sum-normalized recursion to float tolerance."""
    import numpy as np
    from pyspark.sql import functions as F

    from gpu_database_spark.llm.graphrank import HITS_ITERS, hits, synth_edges
    from gpu_database_spark.sources.catalog import load_table

    d = load_table(spark, sf_dir, "documents").select(F.col("doc_id").alias("id"))
    edges = synth_edges(d.select(F.col("id").alias("doc_id")))
    got = {r.id: (r.authority, r.hub) for r in hits(d, edges).collect()}

    ids = sorted(r.id for r in d.collect())
    idx = {v: i for i, v in enumerate(ids)}
    n = len(ids)
    A = np.zeros((n, n))
    for r in edges.collect():
        A[idx[r.src], idx[r.dst]] = 1.0
    a = np.ones(n)
    h = np.ones(n)
    for _ in range(HITS_ITERS):
        a = A.T @ h
        a /= a.sum()
        h = A @ a
        h /= h.sum()
    for v in ids:
        ga, gh = got[v]
        assert abs(ga - a[idx[v]]) < 1e-9
        assert abs(gh - h[idx[v]]) < 1e-9
