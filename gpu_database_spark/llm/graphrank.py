"""Link-graph ranking for crawl/corpus selection (PageRank).

Web-scale pretraining pipelines rank domains by link authority to
prioritize what to crawl and what to keep (harmonic/PageRank-style
centrality over the host graph). Here: a deterministic synthetic link
graph derived from the documents table (md5-derived out-links, so any
engine reproduces it), power-iteration PageRank on DataFrames, and an
oracle-gated degree census.

Scale notes: each PageRank iteration is contributions (edges join
ranks, shuffle on src) + a sum per dst — two keyed shuffles over the
edge list, the textbook Pregel decomposition. Ranks are
``localCheckpoint``-ed every few iterations to truncate the lineage
(without it the plan doubles per iteration and the 20th iteration
re-evaluates the 1st). Dangling mass is redistributed uniformly each
iteration so ranks stay a probability distribution (sum == 1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gpu_database_spark.functions.materialize import fixed_point, materialize
from gpu_database_spark.registry import register
from gpu_database_spark.sources.catalog import load_table

N_LINKS = 3       # out-links per doc
DAMPING = 0.85
N_ITERS = 10


def synth_edges(docs: DataFrame) -> DataFrame:
    """(src, dst) — each document links to N_LINKS md5-derived targets
    (mod corpus size, self-links removed). A pure function of doc_ids:
    both engines and every retry see the same graph."""
    n = docs.select(F.max("doc_id").alias("m")).select(
        (F.col("m") + 1).alias("n")
    )
    with_n = docs.select("doc_id").crossJoin(F.broadcast(n))
    edges = None
    for k in range(N_LINKS):
        e = with_n.select(
            F.col("doc_id").alias("src"),
            (
                F.conv(
                    F.substring(F.md5(F.concat_ws(":", F.col("doc_id"), F.lit(k))), 1, 15),
                    16,
                    10,
                ).cast("long")
                % F.col("n")
            ).alias("dst"),
        )
        edges = e if edges is None else edges.unionAll(e)
    return edges.filter(F.col("src") != F.col("dst")).distinct()


def pagerank(nodes: DataFrame, edges: DataFrame, n_iters: int = N_ITERS) -> DataFrame:
    """Power iteration: rank' = (1-d)/N + d * (inbound contributions
    + dangling mass / N). nodes: (id); edges: (src, dst). Returns
    (id, rank). Deterministic: per-iteration sums are over exact
    out-degree fractions; the final rank is rounded by callers."""
    n_nodes = nodes.count()  # scalar; one job, reused every iteration
    out_deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    # edges with degree, reused every iteration unchanged; a
    # materialize() block, so release_all frees it after the query
    ed = materialize(edges.join(out_deg, "src").select("src", "dst", "deg"))

    def power_step(ranks: DataFrame) -> DataFrame:
        contribs = (
            ed.join(ranks, ed.src == ranks.id)
            .select("dst", (F.col("rank") / F.col("deg")).alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("inbound"))
        )
        # dangling nodes (no out-links) leak rank — redistribute it
        dangling = (
            ranks.join(out_deg, ranks.id == out_deg.src, "left_anti")
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dm"))
        )
        return (
            nodes.join(contribs, nodes.id == contribs.dst, "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "id",
                (
                    F.lit((1.0 - DAMPING) / n_nodes)
                    + F.lit(DAMPING)
                    * (F.coalesce(F.col("inbound"), F.lit(0.0)) + F.col("dm") / n_nodes)
                ).alias("rank"),
            )
        )

    ranks = nodes.select(F.col("id"), F.lit(1.0 / n_nodes).alias("rank"))
    return fixed_point(ranks, power_step, max_iters=n_iters, checkpoint_every=4)


@register(
    "graph_pagerank",
    oracle=f"""
    WITH RECURSIVE
    docs AS (SELECT doc_id FROM documents),
    nn AS (SELECT MAX(doc_id) + 1 AS n, CAST(COUNT(*) AS DOUBLE) AS cnt FROM docs),
    raw AS (
        SELECT doc_id AS src,
               CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' ||
                                       CAST(k AS VARCHAR)), 1, 15) AS BIGINT)
                   % (SELECT n FROM nn) AS dst
        FROM docs CROSS JOIN (SELECT unnest(range(0, {N_LINKS})) AS k)
    ),
    edges AS (SELECT DISTINCT src, dst FROM raw WHERE src <> dst),
    outdeg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
    iter(it, id, rank) AS (
        SELECT 0, doc_id, 1.0 / (SELECT cnt FROM nn) FROM docs
        UNION ALL
        SELECT (SELECT MAX(it) FROM iter) + 1, d.doc_id,
               (1 - {DAMPING}) / (SELECT cnt FROM nn)
               + {DAMPING} * (COALESCE(c.inbound, 0)
                         + (SELECT COALESCE(SUM(r2.rank), 0) FROM iter r2
                            LEFT JOIN outdeg o2 ON r2.id = o2.src
                            WHERE o2.src IS NULL) / (SELECT cnt FROM nn))
        FROM docs d
        LEFT JOIN (
            SELECT e.dst, SUM(r.rank / o.deg) AS inbound
            FROM iter r JOIN edges e ON r.id = e.src
                        JOIN outdeg o ON e.src = o.src
            GROUP BY e.dst
        ) c ON d.doc_id = c.dst
        WHERE (SELECT MAX(it) FROM iter) < {N_ITERS}
    )
    SELECT f.id, round(f.rank, 6) AS rank,
           CAST(COALESCE(i.in_deg, 0) AS BIGINT) AS in_deg
    FROM (SELECT id, rank FROM iter WHERE it = {N_ITERS}) f
    LEFT JOIN (SELECT dst AS id, COUNT(*) AS in_deg FROM edges GROUP BY dst) i
        USING (id)
    ORDER BY round(f.rank, 6) DESC, f.id LIMIT 50
    """,
)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the synthetic doc link graph: top-ranked docs with
    in-degree context. tests/test_graphrank.py checks the ranks against
    a dense numpy power iteration on the same graph; the oracle states
    the SAME fixed 10-step power iteration as a DuckDB recursive
    CTE (the recursive term sees only the previous iteration's working
    table — exactly rank(t) -> rank(t+1)), so ranks agree to double
    precision and hash-match after round(,6). Ordering uses the ROUNDED
    rank with doc-id tiebreak so the top-50 cut is engine-stable."""
    d = load_table(spark, sf_dir, "documents")
    nodes = d.select(F.col("doc_id").alias("id"))
    edges = synth_edges(d)
    ranks = pagerank(nodes, edges)
    in_deg = edges.groupBy(F.col("dst").alias("id")).agg(
        F.count(F.lit(1)).alias("in_deg")
    )
    return (
        ranks.join(in_deg, "id", "left")
        .select(
            "id",
            F.round("rank", 6).alias("rank"),
            F.coalesce("in_deg", F.lit(0)).cast("long").alias("in_deg"),
        )
        .orderBy(F.col("rank").desc(), "id")
        .limit(50)
    )


@register(
    "graph_degree_stats",
    oracle=f"""
    WITH docs AS (SELECT doc_id FROM documents),
    n AS (SELECT MAX(doc_id) + 1 AS n FROM docs),
    raw AS (
        SELECT doc_id AS src,
               CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' ||
                                       CAST(k AS VARCHAR)), 1, 15) AS BIGINT)
                   % (SELECT n FROM n) AS dst
        FROM docs CROSS JOIN (SELECT unnest(range(0, {N_LINKS})) AS k)
    ),
    edges AS (SELECT DISTINCT src, dst FROM raw WHERE src <> dst),
    indeg AS (SELECT dst, COUNT(*) AS d FROM edges GROUP BY dst)
    SELECT d AS in_degree, COUNT(*) AS n_nodes
    FROM indeg GROUP BY d ORDER BY in_degree
    """,
)
def graph_degree_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-degree histogram of the synthetic link graph — the census
    that sizes the skew story before ranking (hub nodes = hot keys).
    Oracle re-derives the identical md5 graph in SQL."""
    d = load_table(spark, sf_dir, "documents")
    edges = synth_edges(d)
    indeg = edges.groupBy("dst").agg(F.count(F.lit(1)).alias("d"))
    return (
        indeg.groupBy(F.col("d").alias("in_degree"))
        .agg(F.count(F.lit(1)).alias("n_nodes"))
        .orderBy("in_degree")
    )


KCORE_K = 4       # core threshold for the registered query
KCORE_MAXIT = 12  # oracle peel rounds: >= fixture peeling depth (4), with margin


def kcore(nodes: DataFrame, edges: DataFrame, k: int, max_iters: int = 100) -> DataFrame:
    """Nodes of the k-core: iteratively peel nodes with (undirected)
    degree < k until a fixpoint — the standard dense-subgraph /
    community-seed primitive. nodes: (id); edges: (src, dst),
    undirected semantics. Returns the surviving (id) rows.

    Each round is one degree groupBy + one semi-join; rounds ~ peeling
    depth (small for power-law graphs). The loop never ships rows to
    the driver — the fixpoint test is the survivor count, which only
    repeats once no node is peeled (warns if ``max_iters`` runs out:
    the survivors are then a superset of the k-core)."""
    # static within the loop, not loop-carried
    sym = materialize(
        edges.select("src", "dst")
        .unionAll(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
    )

    def peel(alive: DataFrame) -> DataFrame:
        # Only the DST side needs the alive filter before the degree
        # count: a dead src can produce a keep row, but the left_semi
        # against `alive` discards it, so the survivor set is identical
        # and each round saves a full join.
        deg = (
            sym.join(alive.select(F.col("id").alias("dst")), "dst")
            .groupBy("src")
            .agg(F.count(F.lit(1)).alias("d"))
        )
        keep = deg.filter(F.col("d") >= k).select(F.col("src").alias("id"))
        return alive.join(keep, "id", "left_semi")

    return fixed_point(
        nodes.select("id"), peel, max_iters=max_iters, probe=lambda a: a.count()
    )


@register(
    "graph_kcore",
    oracle=f"""
    WITH RECURSIVE
    docs AS (SELECT doc_id FROM documents),
    n AS (SELECT MAX(doc_id) + 1 AS n FROM docs),
    raw AS (
        SELECT doc_id AS src,
               CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' ||
                                       CAST(k AS VARCHAR)), 1, 15) AS BIGINT)
                   % (SELECT n FROM n) AS dst
        FROM docs CROSS JOIN (SELECT unnest(range(0, {N_LINKS})) AS k)
    ),
    edges AS (SELECT DISTINCT src, dst FROM raw WHERE src <> dst),
    sym AS (SELECT DISTINCT src, dst FROM
            (SELECT src, dst FROM edges UNION ALL
             SELECT dst AS src, src AS dst FROM edges)),
    peel(it, src, dst) AS (
        SELECT 0, src, dst FROM sym
        UNION ALL
        SELECT it + 1, src, dst FROM (
            SELECT e.it, e.src, e.dst,
                   COUNT(*) OVER (PARTITION BY e.it, e.src) AS dsrc,
                   COUNT(*) OVER (PARTITION BY e.it, e.dst) AS ddst
            FROM peel e
        )
        WHERE it < {KCORE_MAXIT} AND dsrc >= {KCORE_K} AND ddst >= {KCORE_K}
    )
    SELECT src AS doc_id, COUNT(*) AS core_degree
    FROM peel WHERE it = {KCORE_MAXIT}
    GROUP BY src ORDER BY doc_id
    """,
)
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core census of the synthetic link graph (k=KCORE_K=4): rows
    for the surviving dense subgraph, plus each survivor's degree
    within the core — the seed set community detection and influence
    analysis start from. tests/test_graphrank.py additionally checks
    the result against a serial Python peeling oracle.

    The DuckDB oracle states the SAME peeling as a recursive CTE in
    EDGE form: the working table at step t holds the alive edge set;
    an edge survives to t+1 iff BOTH endpoints have degree >= k among
    step-t edges (window counts — one reference to the recurring
    table; removing an endpoint's edges IS removing the node, and the
    surviving edges are exactly the kept-node-induced subgraph).
    Peeling reaches its fixpoint in 4 rounds on the fixture graph and
    the fixpoint is idempotent, so emitting round KCORE_MAXIT=12
    equals the Spark loop's converged set (the loop would warn if it
    ever failed to converge; the fixture converges). Written
    deliberately around two DuckDB-1.0 recursive-CTE hazards verified
    by experiment: a correlated subquery that joins the recurring
    table over-counts, and a plain set-op UNION in a helper CTE loses
    its dedup when consumed by the recursive member (hence the
    explicit SELECT DISTINCT over UNION ALL in sym)."""
    d = load_table(spark, sf_dir, "documents")
    edges = synth_edges(d)
    core = kcore(d.select(F.col("doc_id").alias("id")), edges, KCORE_K)
    sym = edges.select("src", "dst").unionAll(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    core_deg = (
        sym.join(core.select(F.col("id").alias("src")), "src")
        .join(core.select(F.col("id").alias("dst")), "dst")
        .groupBy("src")
        .agg(F.count(F.lit(1)).alias("core_degree"))
    )
    return (
        core.join(core_deg, core.id == core_deg.src)
        .select(F.col("id").alias("doc_id"), "core_degree")
        .orderBy("doc_id")
    )


@register(
    "graph_jaccard_neighbors",
    oracle=f"""
    WITH docs AS (SELECT doc_id FROM documents),
    n AS (SELECT MAX(doc_id) + 1 AS n FROM docs),
    raw AS (
        SELECT doc_id AS src,
               CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' ||
                                       CAST(k AS VARCHAR)), 1, 15) AS BIGINT)
                   % (SELECT n FROM n) AS dst
        FROM docs CROSS JOIN (SELECT unnest(range(0, {{n_links}})) AS k)
    ),
    edges AS (SELECT DISTINCT src, dst FROM raw WHERE src <> dst),
    sym AS (
        SELECT src AS u, dst AS w FROM edges
        UNION
        SELECT dst AS u, src AS w FROM edges
    ),
    deg AS (SELECT u, COUNT(*) AS d FROM sym GROUP BY u),
    common AS (
        SELECT a.u AS u, b.u AS v, COUNT(*) AS c
        FROM sym a JOIN sym b ON a.w = b.w AND a.u < b.u
        GROUP BY 1, 2
    )
    SELECT common.u AS u, common.v AS v, c AS n_common,
           round(CAST(c AS DOUBLE) / (du.d + dv.d - c), 6) AS jaccard
    FROM common
    JOIN deg du ON du.u = common.u
    JOIN deg dv ON dv.u = common.v
    ORDER BY jaccard DESC, common.u, common.v
    LIMIT 15
    """.replace("{n_links}", str(N_LINKS)),
)
def graph_jaccard_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structural-similarity top-15: node pairs ranked by Jaccard
    similarity of their (undirected) neighbor sets — |N(u) ∩ N(v)| /
    |N(u) ∪ N(v)| — the link-based near-duplicate/mirror detector
    that complements content MinHash (text_knn_graph) on a crawl
    graph.

    Scale shape: common-neighbor counting joins the symmetric
    adjacency list with itself ON THE SHARED NEIGHBOR, so each
    neighbor w contributes deg(w)^2 candidate pairs — bounded here by
    the md5 graph's near-uniform degrees; on a power-law crawl graph
    the standard production guard (cap or sample hub adjacency before
    the join) applies and is documented rather than needed. Degrees
    broadcast back; Jaccard is one integer division."""
    d = load_table(spark, sf_dir, "documents")
    edges = synth_edges(d)
    sym = (
        edges.select(F.col("src").alias("u"), F.col("dst").alias("w"))
        .unionAll(edges.select(F.col("dst").alias("u"), F.col("src").alias("w")))
        .distinct()
        .transform(materialize)  # feeds deg + both join sides once
    )
    # per-node degrees feed BOTH endpoint joins: materialized so the
    # (large) symmetric edge table is aggregated once, not twice
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("d")).transform(
        materialize
    )
    a = sym.alias("a")
    b = sym.alias("b")
    common = (
        a.join(b, (F.col("a.w") == F.col("b.w")) & (F.col("a.u") < F.col("b.u")))
        .groupBy(F.col("a.u").alias("u"), F.col("b.u").alias("v"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    du = deg.select(F.col("u").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("u").alias("v"), F.col("d").alias("dv"))
    return (
        common.join(du, "u")
        .join(dv, "v")
        .select(
            "u",
            "v",
            F.col("c").alias("n_common"),
            F.round(
                F.col("c").cast("double")
                / (F.col("du") + F.col("dv") - F.col("c")),
                6,
            ).alias("jaccard"),
        )
        .orderBy(F.desc("jaccard"), "u", "v")
        .limit(15)
    )


LPA_ITERS = 6  # synchronous label-propagation rounds (fixed, deterministic)


def label_propagation(nodes: DataFrame, edges: DataFrame, n_iters: int = LPA_ITERS) -> DataFrame:
    """Synchronous label propagation over an undirected graph:
    every node starts as its own label; each round, a node adopts the
    most frequent label among its neighbors AND itself (the self-vote
    damps the 2-cycle oscillation plain synchronous LPA suffers), ties
    broken toward the SMALLEST label — fully deterministic, no RNG.
    Returns (id, lbl) after ``n_iters`` rounds.

    Scale shape per round: one join of the (src, dst) edge list with
    the label table (shuffle on node id) + one groupBy vote count +
    one argmax — the standard Pregel message topology; the label table
    is checkpointed every second round (and after the last) to truncate
    the growing loop lineage: with a fixed round count nothing reads
    the labels between rounds, so lineage only doubles once between
    checkpoints and half the checkpoint jobs go."""
    und = materialize(
        edges.union(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        ).distinct()
    )

    def vote(labels: DataFrame) -> DataFrame:
        nbr = und.join(
            labels.withColumnRenamed("id", "dst"), "dst"
        ).select(F.col("src").alias("id"), "lbl")
        votes = nbr.unionAll(labels.select("id", "lbl"))
        return (
            votes.groupBy("id", "lbl")
            .agg(F.count(F.lit(1)).alias("c"))
            .groupBy("id")
            .agg(F.max(F.struct(F.col("c"), (-F.col("lbl")).alias("nl"))).alias("m"))
            .select("id", (-F.col("m.nl")).alias("lbl"))
        )

    labels = nodes.select(F.col("id"), F.col("id").alias("lbl"))
    return fixed_point(labels, vote, max_iters=n_iters, checkpoint_every=2)


def _lpa_oracle_sql() -> str:
    """Generate the fixed-round LPA oracle: LPA_ITERS chained CTEs,
    each one round of the exact integer vote/argmax update — no
    recursion needed because the round count is a constant, and no
    floats anywhere, so the oracle is bit-exact by construction."""
    rounds = []
    for k in range(1, LPA_ITERS + 1):
        rounds.append(f"""
    l{k} AS (
        SELECT id, lbl FROM (
            SELECT v.id, v.lbl,
                   ROW_NUMBER() OVER (PARTITION BY v.id
                                      ORDER BY v.c DESC, v.lbl) AS rk
            FROM (
                SELECT id, lbl, COUNT(*) AS c FROM (
                    SELECT u.src AS id, p.lbl
                    FROM und u JOIN l{k - 1} p ON u.dst = p.id
                    UNION ALL SELECT id, lbl FROM l{k - 1}
                ) GROUP BY id, lbl
            ) v
        ) WHERE rk = 1
    )""")
    return f"""
    WITH docs AS (SELECT doc_id FROM documents),
    nn AS (SELECT MAX(doc_id) + 1 AS n FROM docs),
    raw AS (
        SELECT doc_id AS src,
               CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' ||
                                       CAST(k AS VARCHAR)), 1, 15) AS BIGINT)
                   % (SELECT n FROM nn) AS dst
        FROM docs CROSS JOIN (SELECT unnest(range(0, {N_LINKS})) AS k)
    ),
    edges AS (SELECT DISTINCT src, dst FROM raw WHERE src <> dst),
    und AS (
        SELECT DISTINCT src, dst FROM (
            SELECT src, dst FROM edges
            UNION SELECT dst, src FROM edges
        )
    ),
    l0 AS (SELECT doc_id AS id, doc_id AS lbl FROM docs),
    {",".join(rounds)}
    SELECT lbl AS community, CAST(COUNT(*) AS BIGINT) AS size
    FROM l{LPA_ITERS}
    GROUP BY lbl ORDER BY size DESC, community LIMIT 20
    """


@register("graph_label_propagation", oracle=_lpa_oracle_sql())
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community census of the synthetic link graph by deterministic
    synchronous LPA (LPA_ITERS=6 rounds): top-20 communities by size —
    the crawl-side clustering that groups mutually-linking sites
    before per-community sampling caps (a training-data pipeline caps
    any one community's share). tests/test_graphrank.py checks the
    full label assignment against a serial Python replica; the DuckDB
    oracle (round-9 upgrade from rows-only) states the SAME fixed
    6-round integer vote/argmax update as chained CTEs — every label
    is exact integer arithmetic, so the hash match is structural."""
    d = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("id")
    )
    labels = label_propagation(d, synth_edges(
        d.select(F.col("id").alias("doc_id"))
    ))
    return (
        labels.groupBy(F.col("lbl").alias("community"))
        .agg(F.count(F.lit(1)).alias("size"))
        .orderBy(F.desc("size"), "community")
        .limit(20)
    )


HITS_ITERS = 8


def hits(nodes: DataFrame, edges: DataFrame, n_iters: int = HITS_ITERS) -> DataFrame:
    """HITS hub/authority scores (sum-normalized mutual recursion):
    a'(u) = sum of h over in-neighbors, h'(u) = sum of a over
    out-neighbors, each vector renormalized to sum 1 per round.
    Returns (id, authority, hub).

    Scale shape per round: two edge-label joins (shuffle on node id) +
    two groupBys + two broadcast normalization scalars — the same
    Pregel message topology as pagerank above. Two vectors + two
    normalization subtrees per round quadruple pagerank's plan growth,
    so BOTH are checkpointed every round (measured: >10 min of analysis
    at 8 rounds unchecked vs seconds checkpointed)."""

    def update(ah: tuple[DataFrame, DataFrame]) -> tuple[DataFrame, DataFrame]:
        _, h = ah
        # authority <- sum of hub over in-edges (src -> dst credits dst)
        a_new = (
            edges.join(h.withColumnsRenamed({"id": "src", "h": "hv"}), "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum("hv").alias("a"))
        )
        a_tot = a_new.agg(F.sum("a").alias("t"))
        a = (
            nodes.join(a_new, "id", "left")
            .crossJoin(F.broadcast(a_tot))
            .select("id", (F.coalesce("a", F.lit(0.0)) / F.col("t")).alias("a"))
        )
        h_new = (
            edges.join(a.withColumnsRenamed({"id": "dst", "a": "av"}), "dst")
            .groupBy(F.col("src").alias("id"))
            .agg(F.sum("av").alias("h"))
        )
        h_tot = h_new.agg(F.sum("h").alias("t"))
        h = (
            nodes.join(h_new, "id", "left")
            .crossJoin(F.broadcast(h_tot))
            .select("id", (F.coalesce("h", F.lit(0.0)) / F.col("t")).alias("h"))
        )
        return a, h

    a, h = fixed_point(
        (
            nodes.select("id", F.lit(1.0).alias("a")),
            nodes.select("id", F.lit(1.0).alias("h")),
        ),
        update,
        max_iters=n_iters,
    )
    return a.join(h, "id").select(
        "id", F.col("a").alias("authority"), F.col("h").alias("hub")
    )


def _hits_oracle_sql() -> str:
    """Generate the fixed-round HITS oracle: HITS_ITERS chained CTE
    pairs, each one authority<-hub then hub<-NEW-authority update with
    sum normalization — no recursion needed for a constant round
    count. Float sums are order-dependent in the last bits, but the
    8dp output rounding sits ~8 orders of magnitude above the
    accumulated drift (same argument as the pagerank oracle's 6dp)."""
    rounds = []
    for k in range(1, HITS_ITERS + 1):
        rounds.append(f"""
    ar{k} AS MATERIALIZED (
        SELECT e.dst AS id, SUM(p.h) AS s
        FROM edges e JOIN h{k - 1} p ON e.src = p.id GROUP BY e.dst
    ),
    at{k} AS MATERIALIZED (SELECT SUM(s) AS t FROM ar{k}),
    a{k} AS MATERIALIZED (
        SELECT d.doc_id AS id,
               COALESCE(ar.s, CAST(0 AS DOUBLE))
                   / (SELECT t FROM at{k}) AS a
        FROM docs d LEFT JOIN ar{k} ar ON d.doc_id = ar.id
    ),
    hr{k} AS MATERIALIZED (
        SELECT e.src AS id, SUM(p.a) AS s
        FROM edges e JOIN a{k} p ON e.dst = p.id GROUP BY e.src
    ),
    ht{k} AS MATERIALIZED (SELECT SUM(s) AS t FROM hr{k}),
    h{k} AS MATERIALIZED (
        SELECT d.doc_id AS id,
               COALESCE(hr.s, CAST(0 AS DOUBLE))
                   / (SELECT t FROM ht{k}) AS h
        FROM docs d LEFT JOIN hr{k} hr ON d.doc_id = hr.id
    )""")
    return f"""
    WITH docs AS MATERIALIZED (SELECT doc_id FROM documents),
    nn AS (SELECT MAX(doc_id) + 1 AS n FROM docs),
    raw AS (
        SELECT doc_id AS src,
               CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' ||
                                       CAST(k AS VARCHAR)), 1, 15) AS BIGINT)
                   % (SELECT n FROM nn) AS dst
        FROM docs CROSS JOIN (SELECT unnest(range(0, {N_LINKS})) AS k)
    ),
    edges AS MATERIALIZED (SELECT DISTINCT src, dst FROM raw WHERE src <> dst),
    a0 AS MATERIALIZED (SELECT doc_id AS id, CAST(1 AS DOUBLE) AS a FROM docs),
    h0 AS MATERIALIZED (SELECT doc_id AS id, CAST(1 AS DOUBLE) AS h FROM docs),
    {",".join(rounds)}
    SELECT a{HITS_ITERS}.id,
           round(a{HITS_ITERS}.a, 8) AS authority,
           round(h{HITS_ITERS}.h, 8) AS hub
    FROM a{HITS_ITERS} JOIN h{HITS_ITERS} USING (id)
    ORDER BY round(a{HITS_ITERS}.a, 8) DESC, id LIMIT 20
    """


@register("graph_hits_authority", oracle=_hits_oracle_sql())
def graph_hits_authority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 authorities of the synthetic link graph by HITS — the
    complement of PageRank's single-score model: authorities are pages
    many good HUBS point at (the curation signal for 'reference'
    content vs 'directory' content). Scores rounded to 8dp (float
    accumulation order differs across layouts; the numpy replica in
    tests/test_graphrank.py agrees to ~1e-12 relative). The DuckDB
    oracle (round-9 upgrade from rows-only) states the same fixed
    8-round normalized mutual recursion as chained CTEs."""
    d = load_table(spark, sf_dir, "documents").select(F.col("doc_id").alias("id"))
    scores = hits(d, synth_edges(d.select(F.col("id").alias("doc_id"))))
    return (
        scores.select(
            "id",
            F.round("authority", 8).alias("authority"),
            F.round("hub", 8).alias("hub"),
        )
        .orderBy(F.desc("authority"), "id")
        .limit(20)
    )


BFS_N_SEEDS = 5   # seed set: doc_id < BFS_N_SEEDS
BFS_MAX_HOPS = 6  # bounded frontier expansion (both engines stop here)


def bfs_hops(seeds: DataFrame, edges: DataFrame, max_hops: int) -> DataFrame:
    """Multi-source BFS: (id, hops) = minimum edge count from any seed,
    bounded at ``max_hops``. seeds: (id); edges: (src, dst), directed.

    Scale shape: each round is ONE equi-join (frontier x edges, shuffle
    on src) + a distinct + an anti-join against the reached set. The
    state is (settled, frontier): ``settled`` holds the nodes reached
    before the frontier, so the next round's settled set is a narrow
    union of two checkpoints and the frontier is computed exactly once,
    by the probe that counts the reached set. A node enters the frontier
    the first round it is reached, which IS its BFS distance, so no
    re-relaxation is ever needed (unit weights). The frontier stops
    expanding at ``max_hops``, so the reached count stops growing and
    the probe ends the loop."""
    ed = materialize(edges.select("src", "dst"))

    def expand(state: tuple[DataFrame, DataFrame]) -> tuple[DataFrame, DataFrame]:
        settled, frontier = state
        reached = settled.unionAll(frontier)
        nxt = (
            frontier.filter(F.col("hops") < max_hops)
            .join(ed, frontier.id == ed.src)
            .select(F.col("dst").alias("id"), (F.col("hops") + 1).alias("hops"))
            .distinct()
        )
        return reached, nxt.join(reached, "id", "left_anti")

    start = seeds.select("id", F.lit(0).alias("hops"))
    settled, frontier = fixed_point(
        (start.limit(0), start),
        expand,
        max_iters=max_hops + 2,  # the count repeats by then: never warns
        probe=lambda state: state[0].unionAll(state[1]).count(),
    )
    return settled.unionAll(frontier)


@register(
    "graph_shortest_hops",
    oracle=f"""
    WITH RECURSIVE
    docs AS (SELECT doc_id FROM documents),
    n AS (SELECT MAX(doc_id) + 1 AS n FROM docs),
    raw AS (
        SELECT doc_id AS src,
               CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' ||
                                       CAST(k AS VARCHAR)), 1, 15) AS BIGINT)
                   % (SELECT n FROM n) AS dst
        FROM docs CROSS JOIN (SELECT unnest(range(0, {N_LINKS})) AS k)
    ),
    edges AS (SELECT DISTINCT src, dst FROM raw WHERE src <> dst),
    bfs(id, dist) AS (
        SELECT doc_id, 0 FROM docs WHERE doc_id < {BFS_N_SEEDS}
        UNION
        SELECT e.dst, b.dist + 1
        FROM bfs b JOIN edges e ON b.id = e.src
        WHERE b.dist < {BFS_MAX_HOPS}
    ),
    md AS (SELECT id, MIN(dist) AS hops FROM bfs GROUP BY id)
    SELECT hops, CAST(COUNT(*) AS BIGINT) AS n_nodes,
           MIN(id) AS min_id, MAX(id) AS max_id,
           CAST(SUM(id) AS BIGINT) AS sum_id
    FROM md GROUP BY hops ORDER BY hops
    """,
)
def graph_shortest_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded multi-source BFS over the synthetic link graph: how far
    is every document from the seed set (doc_id < BFS_N_SEEDS), in
    hops, out to BFS_MAX_HOPS? Reports a per-distance census
    (count / min / max / sum of reached ids) — the reachability
    profile a crawl-frontier or link-spam audit asks for.

    The oracle states the identical computation as a DuckDB recursive
    CTE (UNION-distinct bounds the state at nodes x hops rows; the
    depth guard makes both engines stop at the same frontier). The
    Spark side is the iterative frontier loop in :func:`bfs_hops` —
    recursive CTEs don't distribute, frontier joins do.

    Reference tie-in: the reference's key_op_chain
    (src/cuda/key_op_chain.cuh:72-134) walks dependency edges between
    ops; this is the same transitive-reachability primitive expressed
    over a data graph at corpus scale."""
    d = load_table(spark, sf_dir, "documents")
    seeds = d.filter(F.col("doc_id") < BFS_N_SEEDS).select(
        F.col("doc_id").alias("id")
    )
    dist = bfs_hops(seeds, synth_edges(d), BFS_MAX_HOPS)
    return (
        dist.groupBy("hops")
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.min("id").alias("min_id"),
            F.max("id").alias("max_id"),
            F.sum("id").alias("sum_id"),
        )
        .orderBy("hops")
    )


@register(
    "graph_clustering_coefficient",
    oracle="""
    WITH docs AS (SELECT doc_id FROM documents),
    nn AS (SELECT MAX(doc_id) + 1 AS n FROM docs),
    raw AS (
        SELECT doc_id AS src,
               CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' ||
                                       CAST(k AS VARCHAR)), 1, 15) AS BIGINT)
                   % (SELECT n FROM nn) AS dst
        FROM docs CROSS JOIN (SELECT unnest(range(0, 3)) AS k)
    ),
    dir_edges AS (SELECT DISTINCT src, dst FROM raw WHERE src <> dst),
    und AS (
        SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
        FROM dir_edges
    ),
    tri AS (
        SELECT e1.u AS a, e1.v AS b, e2.v AS c
        FROM und e1 JOIN und e2 ON e1.v = e2.u JOIN und e3
             ON e3.u = e1.u AND e3.v = e2.v
    ),
    tri_per_node AS (
        SELECT node, COUNT(*) AS n_tri FROM (
            SELECT a AS node FROM tri
            UNION ALL SELECT b FROM tri
            UNION ALL SELECT c FROM tri
        ) GROUP BY node
    ),
    deg AS (SELECT node, COUNT(*) AS d FROM (
        SELECT u AS node FROM und UNION ALL SELECT v FROM und
    ) GROUP BY node)
    SELECT deg.node, CAST(deg.d AS BIGINT) AS degree,
           CAST(COALESCE(tri_per_node.n_tri, 0) AS BIGINT) AS n_tri,
           round(CAST(2 * COALESCE(tri_per_node.n_tri, 0) AS DOUBLE)
                 / CAST(deg.d * (deg.d - 1) AS DOUBLE), 6) AS coef
    FROM deg LEFT JOIN tri_per_node USING (node)
    WHERE deg.d >= 2 AND deg.node < 200
    ORDER BY deg.node
    """,
)
def graph_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient per node: coef_i = 2*tri_i /
    (d_i*(d_i-1)) — how close each node's neighborhood is to a clique,
    the standard community-structure diagnostic on a crawl/link graph
    (complements graph_triangle_count's global census with the
    per-node view).

    Scale shape: same two vertex-keyed shuffle joins as the triangle
    census (wedge join + closure join against the canonical u<v edge
    set, materialized once); per-node triangle credits come from
    exploding each closed triangle to its three corners — a unionAll
    + one map-side-combinable groupBy, no extra join. Output is
    restricted to a fixed node window (node < 200, degree >= 2) so
    the driver-visible result is bounded at any corpus size.

    Reference tie-in: none in the reference CUDA KV store — crawl
    -graph curation surface per the build brief."""
    d = load_table(spark, sf_dir, "documents")
    edges = synth_edges(d)
    und = (
        edges.select(
            F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
        )
        .distinct()
        .transform(materialize)
    )
    e1, e2, e3 = und.alias("e1"), und.alias("e2"), und.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.v") == F.col("e2.u"))
        .join(e3, (F.col("e3.u") == F.col("e1.u")) & (F.col("e3.v") == F.col("e2.v")))
        .select(
            F.col("e1.u").alias("a"),
            F.col("e1.v").alias("b"),
            F.col("e2.v").alias("c"),
        )
    )
    tri_per_node = (
        tri.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_tri"))
    )
    deg = (
        und.select(F.col("u").alias("node"))
        .unionAll(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    return (
        deg.join(tri_per_node, "node", "left")
        .filter((F.col("d") >= 2) & (F.col("node") < 200))
        .select(
            "node",
            F.col("d").cast("long").alias("degree"),
            F.coalesce(F.col("n_tri"), F.lit(0)).cast("long").alias("n_tri"),
            F.round(
                (2 * F.coalesce(F.col("n_tri"), F.lit(0))).cast("double")
                / (F.col("d") * (F.col("d") - 1)).cast("double"),
                6,
            ).alias("coef"),
        )
        .orderBy("node")
    )


@register(
    "graph_degree_assortativity",
    oracle=f"""
    WITH docs AS (SELECT doc_id FROM documents),
    nn AS (SELECT MAX(doc_id) + 1 AS n FROM docs),
    raw AS (
        SELECT doc_id AS src,
               CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' ||
                                       CAST(k AS VARCHAR)), 1, 15) AS BIGINT)
                   % (SELECT n FROM nn) AS dst
        FROM docs CROSS JOIN (SELECT unnest(range(0, {N_LINKS})) AS k)
    ),
    edges AS (SELECT DISTINCT src, dst FROM raw WHERE src <> dst),
    outdeg AS (SELECT src, COUNT(*) AS od FROM edges GROUP BY src),
    indeg AS (SELECT dst, COUNT(*) AS id FROM edges GROUP BY dst),
    pairs AS (
        SELECT o.od AS x, i.id AS y
        FROM edges e JOIN outdeg o USING (src) JOIN indeg i USING (dst)
    ),
    s AS (
        SELECT COUNT(*) AS m,
               CAST(CAST(SUM(CAST(x AS HUGEINT)) AS VARCHAR) AS DOUBLE) AS sx,
               CAST(CAST(SUM(CAST(y AS HUGEINT)) AS VARCHAR) AS DOUBLE) AS sy,
               CAST(CAST(SUM(CAST(x AS HUGEINT) * y) AS VARCHAR)
                    AS DOUBLE) AS sxy,
               CAST(CAST(SUM(CAST(x AS HUGEINT) * x) AS VARCHAR)
                    AS DOUBLE) AS sxx,
               CAST(CAST(SUM(CAST(y AS HUGEINT) * y) AS VARCHAR)
                    AS DOUBLE) AS syy
        FROM pairs
    )
    SELECT CAST(m AS BIGINT) AS n_edges,
           round(sx / m, 6) AS mean_src_outdeg,
           round(sy / m, 6) AS mean_dst_indeg,
           round((m * sxy - sx * sy)
                 / (sqrt(m * sxx - sx * sx) * sqrt(m * syy - sy * sy)),
                 6) AS assortativity
    FROM s
    """,
)
def graph_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed degree assortativity of the synthetic link graph: the
    Pearson correlation, over edges, between the source's out-degree
    and the destination's in-degree — positive means hubs link to
    hubs (assortative mixing), negative means hubs link to the
    periphery; the one scalar that tells a crawler-ranking pipeline
    whether in-link authority concentrates or disperses (Newman 2002,
    computed on the same md5-derived graph as graph_pagerank).

    Scale shape: two degree groupBys over the edge table, one fan-in
    join back to edges (both sides pre-aggregated, vocabulary-sized),
    and ONE map-side-combinable moment aggregation to six scalars —
    no iteration, no driver loop. Degrees are small integers, so all
    five sums accumulate EXACTLY in DECIMAL(38,0)/HUGEINT, convert
    once via the correctly-rounded VARCHAR hop (compat.py), and the
    closed-form Pearson is one identical IEEE op tree in both engines
    (sqrt per factor, never pow)."""
    d = load_table(spark, sf_dir, "documents")
    edges = synth_edges(d)
    outdeg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("od"))
    indeg = edges.groupBy("dst").agg(F.count(F.lit(1)).alias("id"))
    pairs = (
        edges.join(outdeg, "src")
        .join(indeg, "dst")
        .select(F.col("od").alias("x"), F.col("id").alias("y"))
    )
    s = pairs.agg(
        F.count(F.lit(1)).alias("m"),
        F.expr(
            "CAST(CAST(SUM(CAST(x AS DECIMAL(38,0))) AS STRING) AS DOUBLE)"
        ).alias("sx"),
        F.expr(
            "CAST(CAST(SUM(CAST(y AS DECIMAL(38,0))) AS STRING) AS DOUBLE)"
        ).alias("sy"),
        F.expr(
            "CAST(CAST(SUM(CAST(x AS DECIMAL(38,0)) * y) AS STRING)"
            " AS DOUBLE)"
        ).alias("sxy"),
        F.expr(
            "CAST(CAST(SUM(CAST(x AS DECIMAL(38,0)) * x) AS STRING)"
            " AS DOUBLE)"
        ).alias("sxx"),
        F.expr(
            "CAST(CAST(SUM(CAST(y AS DECIMAL(38,0)) * y) AS STRING)"
            " AS DOUBLE)"
        ).alias("syy"),
    )
    return s.select(
        F.col("m").cast("long").alias("n_edges"),
        F.round(F.expr("sx / m"), 6).alias("mean_src_outdeg"),
        F.round(F.expr("sy / m"), 6).alias("mean_dst_indeg"),
        F.round(
            F.expr(
                "(m * sxy - sx * sy)"
                " / (sqrt(m * sxx - sx * sx) * sqrt(m * syy - sy * sy))"
            ),
            6,
        ).alias("assortativity"),
    )


@register(
    "graph_adamic_adar",
    oracle=f"""
    WITH docs AS (SELECT doc_id FROM documents),
    n AS (SELECT MAX(doc_id) + 1 AS n FROM docs),
    raw AS (
        SELECT doc_id AS src,
               CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' ||
                                       CAST(k AS VARCHAR)), 1, 15) AS BIGINT)
                   % (SELECT n FROM n) AS dst
        FROM docs CROSS JOIN (SELECT unnest(range(0, {{n_links}})) AS k)
    ),
    edges AS (SELECT DISTINCT src, dst FROM raw WHERE src <> dst),
    sym AS (
        SELECT src AS u, dst AS w FROM edges
        UNION
        SELECT dst AS u, src AS w FROM edges
    ),
    deg AS (SELECT u, COUNT(*) AS d FROM sym GROUP BY u),
    aa AS (
        SELECT a.u AS u, b.u AS v,
               COUNT(*) AS n_common,
               CAST(CAST(SUM(CAST(1 / ln(dw.d) AS DECIMAL(27,6)))
                         AS VARCHAR) AS DOUBLE) AS score
        FROM sym a
        JOIN sym b ON a.w = b.w AND a.u < b.u
        JOIN deg dw ON dw.u = a.w
        WHERE dw.d > 1
        GROUP BY 1, 2
    )
    SELECT u, v, CAST(n_common AS BIGINT) AS n_common,
           round(score, 6) AS adamic_adar
    FROM aa
    ORDER BY adamic_adar DESC, u, v
    LIMIT 15
    """.replace("{n_links}", str(N_LINKS)),
)
def graph_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar link prediction top-15: node pairs scored by
    Sigma over common neighbors w of 1/ln(deg(w)) — rare shared
    neighbors count more than hubs, the refinement over
    graph_jaccard_neighbors' set overlap that link-prediction
    benchmarks standardized on. Degree-1 common neighbors drop
    (ln(1) = 0 would divide by zero; a leaf can't be a SHARED
    neighbor of two other nodes anyway, so the filter is free).

    Scale shape: identical to graph_jaccard_neighbors — pairs come
    from the shared-neighbor self-join (deg(w)^2 per neighbor,
    bounded on the md5 graph; hub-cap/sample is the documented
    power-law guard), with the 1/ln(deg) weight equi-joined onto the
    shared-neighbor key BEFORE grouping so the score accumulates in
    one pass; the per-pair sum runs through the exact-decimal
    string hop, order-independent cross-engine."""
    d = load_table(spark, sf_dir, "documents")
    edges = synth_edges(d)
    sym = (
        edges.select(F.col("src").alias("u"), F.col("dst").alias("w"))
        .unionAll(edges.select(F.col("dst").alias("u"), F.col("src").alias("w")))
        .distinct()
        .transform(materialize)
    )
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    a = sym.alias("a")
    b = sym.alias("b")
    dw = deg.select(F.col("u").alias("w_key"), F.col("d").alias("dw"))
    return (
        a.join(b, (F.col("a.w") == F.col("b.w")) & (F.col("a.u") < F.col("b.u")))
        .join(dw, F.col("a.w") == F.col("w_key"))
        .filter(F.col("dw") > 1)
        .groupBy(F.col("a.u").alias("u"), F.col("b.u").alias("v"))
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.expr(
                "CAST(CAST(SUM(CAST(1 / ln(dw) AS DECIMAL(27,6)))"
                " AS STRING) AS DOUBLE)"
            ).alias("score"),
        )
        .select(
            "u", "v",
            F.col("n_common").cast("long").alias("n_common"),
            F.round("score", 6).alias("adamic_adar"),
        )
        .orderBy(F.desc("adamic_adar"), "u", "v")
        .limit(15)
    )
