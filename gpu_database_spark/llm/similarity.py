"""Similarity search over embedding columns (BASELINE.json north star).

Brute-force cosine top-k as the exact baseline (oracle-checked), plus
a bit-sampling LSH-bucketed variant as the 100 TB scale path
(rows-only; tests measure its recall against the exact baseline).

Vector arithmetic uses built-in higher-order functions
(zip_with + aggregate) — JVM-side, no Python in the loop. Cosines are
rounded to 6dp before ranking so Spark and DuckDB rank identically
(both accumulate doubles in array order; last-bit drift cannot flip a
6dp-rounded comparison except on exact ties, which the vec_id
tiebreak absorbs).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gpu_database_spark.functions.materialize import materialize
from gpu_database_spark.registry import register
from gpu_database_spark.sources.catalog import load_table

TOP_K = 5
# vec_id < N_QUERIES are the evaluation query vectors. 20, not 5
# (round-12, ADVICE r11 #4): the 5-query panel's recall granularity was
# 1/25 = 0.04, so the parity sweep's any-SF PQ floor had to sit one
# grid cell below the pytest fixture-scale gate; 20 queries x top-5 =
# 100 hits (granularity 0.01) lets the sweep floor return to the
# pytest level.
N_QUERIES = 20


def dot(a: Column, b: Column) -> Column:
    """Dot product of two array<float> columns in double precision."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


@register(
    "sim_topk_cosine",
    oracle=f"""
    WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
               FROM embeddings WHERE vec_id < {N_QUERIES}),
    c AS (SELECT vec_id AS cid, label, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
    scored AS (
        SELECT qid, cid, label,
               round(list_cosine_similarity(qv, cv), 6) AS cos_sim
        FROM q JOIN c ON qid <> cid
    )
    SELECT qid, cid, label, cos_sim, CAST(rk AS BIGINT) AS rk
    FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                                     ORDER BY cos_sim DESC, cid) AS rk
        FROM scored
    )
    WHERE rk <= {TOP_K}
    ORDER BY qid, rk
    """,
)
def sim_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-k: broadcast the query set against
    the candidate corpus, rank per query with a window.

    Scale path: the query side broadcasts (it is small by definition);
    the corpus scan is embarrassingly parallel; per-query top-k is one
    shuffle on qid. For corpus-x-corpus at 100 TB use sim_ann_lsh.
    """
    # spread=True: same scan-fused broadcast-cosine shape as
    # sim_range_search_radius (A/B family win; oracle hash unchanged).
    e = load_table(spark, sf_dir, "embeddings", spread=True)
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    c = e.select(
        F.col("vec_id").alias("cid"), "label", F.col("embedding").alias("cv")
    )
    scored = (
        F.broadcast(q)
        .join(c, F.col("qid") != F.col("cid"))
        .select(
            "qid",
            "cid",
            "label",
            F.round(cosine(F.col("qv"), F.col("cv")), 6).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos_sim").desc(), F.col("cid"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= TOP_K)
        .orderBy("qid", "rk")
    )


RANGE_RADIUS = 0.30  # cosine radius for range search (the non-top-k primitive)


@register(
    "sim_range_search_radius",
    oracle=f"""
    WITH q AS (
        SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
        FROM embeddings WHERE vec_id < {N_QUERIES}
    ),
    c AS (
        SELECT vec_id AS cid, label, CAST(embedding AS DOUBLE[]) AS cv
        FROM embeddings
    )
    SELECT qid, cid, label,
           round(list_cosine_similarity(qv, cv), 6) AS cos_sim
    FROM q JOIN c ON qid <> cid
    WHERE round(list_cosine_similarity(qv, cv), 6) >= {RANGE_RADIUS}
    ORDER BY qid, cos_sim DESC, cid
    """,
)
def sim_range_search_radius(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range search — FAISS's OTHER retrieval primitive: ALL corpus
    neighbors within a fixed cosine radius of each evaluation query,
    not a fixed count. Top-k hides density differences; range search
    exposes them (a query inside a dense near-dup clump returns many
    rows, an outlier returns none) — the retrieval shape dedup-radius
    tuning and duplicate-audit tooling actually consume.

    Scale path: the query panel broadcasts (bounded by definition);
    the corpus scan is one embarrassingly-parallel pass; output is
    bounded by panel size x radius selectivity, never corpus^2. For
    corpus-x-corpus radius search use the blocked/LSH family
    (sim_pairs_blocked / dedup_embedding_cosine)."""
    # spread=True: the broadcast-join cosine pass over the corpus is
    # pure per-row vector math fused into a one-row-group scan (A/B:
    # 2.45s -> 0.76s, oracle hash unchanged).
    e = load_table(spark, sf_dir, "embeddings", spread=True)
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    c = e.select(
        F.col("vec_id").alias("cid"), "label", F.col("embedding").alias("cv")
    )
    sim = F.round(cosine(F.col("qv"), F.col("cv")), 6)
    return (
        F.broadcast(q)
        .join(c, F.col("qid") != F.col("cid"))
        .select("qid", "cid", "label", sim.alias("cos_sim"))
        .filter(F.col("cos_sim") >= RANGE_RADIUS)
        .orderBy("qid", F.col("cos_sim").desc(), "cid")
    )


@register(
    "sim_pairs_blocked",
    oracle="""
    WITH e AS (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    ed AS (
        SELECT vec_id, v, unnest(range(1, len(v) + 1)) AS i FROM e
    ),
    proj AS (
        SELECT vec_id, p.plane,
               CASE WHEN sum(CAST(floor(v[i] * 1000000.0) AS BIGINT) * (CASE WHEN
                        CAST('0x' || substr(md5(CAST(p.plane AS VARCHAR) || ':'
                                            || CAST(i - 1 AS VARCHAR)), 1, 4)
                             AS BIGINT) % 2 = 1
                        THEN 1 ELSE -1 END)) > 0
                    THEN 1 ELSE 0 END AS bit
        FROM ed CROSS JOIN (SELECT unnest(range(0, 4)) AS plane) p
        GROUP BY vec_id, p.plane
    ),
    sig AS (
        SELECT vec_id, CAST(sum(bit * (1 << plane)) AS BIGINT) AS bucket
        FROM proj GROUP BY vec_id
    ),
    eb AS (
        SELECT e.vec_id, e.label, e.v, s.bucket
        FROM e JOIN sig s ON e.vec_id = s.vec_id
    )
    SELECT a.vec_id AS va, b.vec_id AS vb, a.label, a.bucket,
           round(list_cosine_similarity(a.v, b.v), 6) AS cos_sim
    FROM eb a JOIN eb b
      ON a.label = b.label AND a.bucket = b.bucket AND a.vec_id < b.vec_id
    WHERE round(list_cosine_similarity(a.v, b.v), 6) > 0.3
    ORDER BY va, vb
    """,
)
def sim_pairs_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs with LSH-bucket blocking: pairwise
    cosine only within (label, LSH bucket) blocks. The bucket — table 0
    of :func:`lsh_bucket_array`, a 4-bit random-hyperplane signature —
    is the key that keeps the quadratic term bounded at 100 TB: block
    size tracks true neighborhoods instead of whatever cardinality the
    label happens to have. Label equality stays as a secondary filter
    (the business rule); the oracle reproduces the bucket bit-for-bit
    because the projection accumulates in exact decimal and the +-1
    pattern derives from md5.

    L2 norms are computed once per VECTOR before the pair join, not per
    pair — the pairwise stage then does one dot product per pair (3x
    less vector math; identical values, sqrt(x) is the same number
    wherever it's computed).

    Clone collapse (VERDICT r9 #5): bitwise-identical embeddings —
    which land in the same block by construction — collapse to one
    representative per (label, bucket, embedding) group BEFORE the
    dot-product stage, so the quadratic vector math runs once per
    distinct-vector pair; member pairs then expand by equi-joins
    carrying the precomputed cosine (bit-identical, the member arrays
    ARE the rep arrays), and within-group clone pairs get the one
    self-cosine computed once per group. On the sf1.0 fixture (every
    embedding replicated 10x unchanged) this cuts dot products ~100x
    while emitting the exact declared pair set."""
    e = load_table(spark, sf_dir, "embeddings")
    normed = e.select(
        "vec_id", "label", "embedding",
        l2_norm(F.col("embedding")).alias("nrm"),
        F.element_at(lsh_bucket_array("embedding"), 1)
        .cast("long")
        .alias("bucket"),
    )
    # Co-locate each (label, bucket) block on one partition BEFORE the
    # pair stage: the per-pair dot products — the quadratic term — then
    # parallelize across blocks instead of wherever the (possibly
    # single-file) scan happened to land. Eagerly materialized: the
    # member table feeds the rep groupBy AND both expansion joins —
    # at scale, persist the (small) normed+bucketed vector table.
    members = normed.repartition("label", "bucket").transform(materialize)
    # one representative per exact-duplicate vector group; grouping on
    # the raw array is exact bitwise equality, never a lossy hash
    reps = (
        members.groupBy("label", "bucket", "embedding")
        .agg(
            F.min("vec_id").alias("rep"),
            F.first("nrm").alias("nrm"),
            F.count(F.lit(1)).alias("n_members"),
        )
        .transform(materialize)
    )
    a = reps.select(
        F.col("rep").alias("ra"), "label", "bucket",
        F.col("embedding").alias("ea"), F.col("nrm").alias("na"),
    )
    b = reps.select(
        F.col("rep").alias("rb"), F.col("label").alias("label_b"),
        F.col("bucket").alias("bucket_b"),
        F.col("embedding").alias("eb"), F.col("nrm").alias("nb"),
    )
    sim = F.round(dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb")), 6)
    rep_pairs = (
        a.join(
            b,
            (F.col("label") == F.col("label_b"))
            & (F.col("bucket") == F.col("bucket_b"))
            & (F.col("ra") < F.col("rb")),
        )
        .select("ra", "rb", "label", "bucket", sim.alias("cos_sim"))
        .filter(F.col("cos_sim") > 0.3)
    )
    # membership map: vec_id -> its group's representative
    memb = members.join(
        reps.select("label", "bucket", "embedding", "rep"),
        ["label", "bucket", "embedding"],
    ).select("vec_id", "rep", "label", "bucket")
    ma = memb.select(F.col("rep").alias("ra"), F.col("vec_id").alias("xa"))
    mb = memb.select(F.col("rep").alias("rb"), F.col("vec_id").alias("xb"))
    swap = F.col("xa") < F.col("xb")
    cross = (
        rep_pairs.join(ma, "ra")
        .join(mb, "rb")
        .select(
            F.when(swap, F.col("xa")).otherwise(F.col("xb")).alias("va"),
            F.when(swap, F.col("xb")).otherwise(F.col("xa")).alias("vb"),
            "label",
            "bucket",
            "cos_sim",
        )
    )
    # within-group clone pairs: the self-cosine is computed ONCE per
    # group from the same expression tree (identical arrays => the
    # member-pair value bit-for-bit), then fans out to member pairs
    self_sim = F.round(
        dot(F.col("embedding"), F.col("embedding")) / (F.col("nrm") * F.col("nrm")), 6
    )
    clone_groups = (
        reps.filter(F.col("n_members") >= 2)
        .select("label", "bucket", F.col("rep").alias("ra"), self_sim.alias("cos_sim"))
        .filter(F.col("cos_sim") > 0.3)
    )
    wa = memb.select(F.col("rep").alias("ra"), F.col("vec_id").alias("va"))
    wb = memb.select(F.col("rep").alias("ra"), F.col("vec_id").alias("vb"))
    within = (
        clone_groups.join(wa, "ra")
        .join(wb, "ra")
        .filter(F.col("va") < F.col("vb"))
        .select("va", "vb", "label", "bucket", "cos_sim")
    )
    return cross.unionByName(within).orderBy("va", "vb")


PAIRS_TOP_K = 5  # per-vector neighbor cap for the bounded-output variant


@register(
    "sim_pairs_topk",
    oracle=f"""
    WITH e AS (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    ed AS (
        SELECT vec_id, v, unnest(range(1, len(v) + 1)) AS i FROM e
    ),
    proj AS (
        SELECT vec_id, p.plane,
               CASE WHEN sum(CAST(floor(v[i] * 1000000.0) AS BIGINT) * (CASE WHEN
                        CAST('0x' || substr(md5(CAST(p.plane AS VARCHAR) || ':'
                                            || CAST(i - 1 AS VARCHAR)), 1, 4)
                             AS BIGINT) % 2 = 1
                        THEN 1 ELSE -1 END)) > 0
                    THEN 1 ELSE 0 END AS bit
        FROM ed CROSS JOIN (SELECT unnest(range(0, 4)) AS plane) p
        GROUP BY vec_id, p.plane
    ),
    sig AS (
        SELECT vec_id, CAST(sum(bit * (1 << plane)) AS BIGINT) AS bucket
        FROM proj GROUP BY vec_id
    ),
    eb AS (
        SELECT e.vec_id, e.label, e.v, s.bucket
        FROM e JOIN sig s ON e.vec_id = s.vec_id
    ),
    cand AS (
        SELECT a.vec_id AS qid, b.vec_id AS nid, a.label,
               round(list_cosine_similarity(a.v, b.v), 6) AS cos_sim
        FROM eb a JOIN eb b
          ON a.label = b.label AND a.bucket = b.bucket
             AND a.vec_id <> b.vec_id
        WHERE round(list_cosine_similarity(a.v, b.v), 6) > 0.3
    )
    SELECT qid, nid, label, cos_sim, CAST(rk AS BIGINT) AS rk
    FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                                     ORDER BY cos_sim DESC, nid) AS rk
        FROM cand
    )
    WHERE rk <= {PAIRS_TOP_K}
    ORDER BY qid, rk
    """,
)
def sim_pairs_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sim_pairs_blocked with a PER-VECTOR TOP-K OUTPUT CAP: each
    vector keeps only its K=5 most-similar block-mates above the
    threshold (cosine desc, neighbor-id tiebreak). This is the bounded
    100 TB output contract the full pair listing cannot give: on a
    dense corpus cos>0.3 pairs are inherently quadratic (measured x100
    output for x10 vectors at the llm decade — fine for the
    thresholded-dedup consumer, unboundable as a materialized result),
    while this variant emits <= K rows per vector — O(n) — whatever
    the density. The intra-block candidate COMPUTE is the same
    blocked-quadratic term, bounded by block size exactly as in
    sim_pairs_blocked; only the window cap differs (a WindowGroupLimit
    partial top-k, never a full per-vector sort spill).

    Ordered pairs (qid != nid) are scored directly — the oracle's own
    shape — so the ranked stream is ONE join pipeline. The obvious
    "score each unordered pair once and reflect it" halves the dot
    products on paper but needs the half-pair stream TWICE (a union of
    two selects), and an unmaterialized multi-consumer re-runs the
    whole blocked join per branch (measured 27.2x/decade at llm_sf10;
    the single-pipeline shape measures 18.0x against 23.5x output
    growth on the session-1 container, 18.6x on the ~12% slower
    session-2 container pinned in tests/test_plans.py — same code,
    host drift per BENCH_NOTES; the cap saturates at 5 rows/vector on
    the dense llm fixture) while materializing it would persist the unbounded
    thresholded pair set — exactly what this query's output contract
    exists to avoid."""
    e = load_table(spark, sf_dir, "embeddings")
    normed = e.select(
        "vec_id", "label", "embedding",
        l2_norm(F.col("embedding")).alias("nrm"),
        F.element_at(lsh_bucket_array("embedding"), 1)
        .cast("long")
        .alias("bucket"),
    )
    members = normed.repartition("label", "bucket").transform(materialize)
    a = members.select(
        F.col("vec_id").alias("va"), "label", "bucket",
        F.col("embedding").alias("ea"), F.col("nrm").alias("na"),
    )
    b = members.select(
        F.col("vec_id").alias("vb"), F.col("label").alias("label_b"),
        F.col("bucket").alias("bucket_b"),
        F.col("embedding").alias("eb"), F.col("nrm").alias("nb"),
    )
    sim = F.round(dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb")), 6)
    both = (
        a.join(
            b,
            (F.col("label") == F.col("label_b"))
            & (F.col("bucket") == F.col("bucket_b"))
            & (F.col("va") != F.col("vb")),
        )
        .select(
            F.col("va").alias("qid"),
            F.col("vb").alias("nid"),
            "label",
            sim.alias("cos_sim"),
        )
        .filter(F.col("cos_sim") > 0.3)
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos_sim").desc(), F.col("nid"))
    return (
        both.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= PAIRS_TOP_K)
        .orderBy("qid", "rk")
    )


N_TABLES = 4  # LSH tables (OR-amplification)
N_BITS = 4    # hyperplanes per table (AND-amplification)


EMBED_DIM = 64  # fixture embedding dimensionality (TESTDATA.md)


def _plane_signs(plane: int, dim: int = EMBED_DIM) -> list[int]:
    """The +-1 projection pattern for one hyperplane, derived from md5
    of "plane:dim_index" — reproducible anywhere (the oracle re-derives
    it with SQL md5), no stored model. Computed ONCE at plan-build time:
    the pattern is data-independent, so evaluating md5 per row per
    element would put ~dim x planes hash calls in the scan's hot loop
    for a constant. At scale this is "broadcast the tiny static model",
    expressed as plan literals."""
    import hashlib

    return [
        1 if int(hashlib.md5(f"{plane}:{i}".encode()).hexdigest()[:4], 16) % 2 == 1
        else -1
        for i in range(dim)
    ]


def _plane_bit_sql(vec_sql: str, plane: int) -> str:
    """Sign bit of the pseudo-random +-1 projection for one hyperplane,
    as a SQL snippet.

    The projection quantizes each term to floor(x * 1e6) and
    accumulates in LONG: integer addition is exact, order-independent
    and engine-independent, so the sign — and therefore every bucket
    id — is bit-reproducible by the DuckDB oracle, where a float sum's
    last-bit drift could flip a near-zero projection. (Primitive long
    arithmetic is also ~5x faster here than the DECIMAL(27,6)
    alternative — no per-element decimal object churn.)"""
    arr = "array(" + ",".join(str(s) for s in _plane_signs(plane)) + ")"
    proj = (
        f"aggregate(zip_with({vec_sql}, {arr}, (x, s) -> "
        f"CAST(FLOOR(CAST(x AS DOUBLE) * 1000000.0D) AS BIGINT) * CAST(s AS BIGINT)), "
        f"CAST(0 AS BIGINT), (acc, v) -> acc + v)"
    )
    return f"(CASE WHEN {proj} > 0 THEN 1 ELSE 0 END)"


def lsh_bucket_array(vec: Column | str) -> Column:
    """Array of N_TABLES bucket ids (N_BITS-bit signatures); element t
    is the bucket of table t. A pair is a candidate if it collides in
    ANY table (OR over tables, AND over bits — standard LSH
    amplification; single-table wide signatures have near-zero recall
    on moderate-similarity neighbors).

    The whole array — 16 planes x 64 static +-1 coefficients — is
    emitted as ONE SQL expression string: building it Column-by-Column
    costs ~1000 py4j round-trips (~1.5s of driver time PER QUERY
    BUILD) for what is a constant plan fragment. Accepts a column name
    / SQL snippet (fast path) or a Column that is a SIMPLE attribute
    reference — computed Columns must be passed as SQL text, because
    a resolved Column's string form is not guaranteed to re-parse
    (and the private accessor it needs is absent under Spark
    Connect)."""
    if not isinstance(vec, str):
        name = vec._jc.toString()  # noqa: SLF001 — classic-mode only
        if not name.replace("_", "").isalnum():
            raise ValueError(
                "lsh_bucket_array: pass computed Columns as a SQL string; "
                f"Column form is only safe for simple refs, got {name!r}"
            )
        vec = name
    tables = []
    for t in range(N_TABLES):
        bits = [
            f"{_plane_bit_sql(vec, t * N_BITS + b)} * {1 << b}"
            for b in range(N_BITS)
        ]
        tables.append("(" + " + ".join(bits) + ")")
    return F.expr("array(" + ",".join(tables) + ")")


@register("sim_ann_lsh")  # rows-only: bucket layout is engine-specific
def sim_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate NN via multi-table random-hyperplane LSH: a candidate
    must share a full 4-bit signature in at least one of 4 tables; exact
    cosine then re-ranks candidates only.

    The 100 TB path: signatures are a narrow map over the corpus; the
    candidate join touches only same-bucket pairs (expected bucket size
    n/16 per table), never all-pairs. tests/test_llm.py measures recall
    against sim_topk_cosine.
    """
    e = load_table(spark, sf_dir, "embeddings")
    signed = e.select("vec_id", "embedding", lsh_bucket_array("embedding").alias("bk"))
    exploded = signed.select("vec_id", F.posexplode("bk").alias("tbl", "bucket"))
    q = exploded.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"), "tbl", "bucket"
    )
    c = exploded.select(F.col("vec_id").alias("cid"), "tbl", "bucket")
    cands = (
        F.broadcast(q)
        .join(c, ["tbl", "bucket"])
        .filter(F.col("qid") != F.col("cid"))
        .select("qid", "cid")
        .distinct()
    )
    qv = e.select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qv"))
    cv = e.select(F.col("vec_id").alias("cid"), F.col("embedding").alias("cv"))
    scored = (
        cands.join(F.broadcast(qv), "qid")
        .join(cv, "cid")
        .select("qid", "cid", F.round(cosine(F.col("qv"), F.col("cv")), 6).alias("cos_sim"))
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos_sim").desc(), F.col("cid"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= TOP_K)
        .orderBy("qid", "rk")
    )


@register("sim_ann_ivf")  # rows-only: trained-index layout is engine-specific
def sim_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: k-means coarse quantizer (pyspark.ml, fixed seed)
    partitions the corpus into inverted lists; each query probes its
    nprobe=3 nearest centroids and exact-reranks only those lists.

    The 100 TB path: centroids train on a sample and broadcast; list
    assignment is a narrow map; the probe joins each query against
    ~nprobe/k of the corpus. tests/test_llm.py checks recall against
    the exact scorer."""
    from pyspark.ml.functions import array_to_vector

    e = load_table(spark, sf_dir, "embeddings")
    vecs = e.select(
        "vec_id", "embedding", array_to_vector("embedding").alias("features")
    )
    # Shared, session-cached coarse quantizer (identical spec to the
    # per-call fit this replaced: k=16, seed=42, maxIter=10 on the same
    # corpus) — the fit is one full MLlib job and dominated repeat
    # invocations (r13 optimization).
    model = _ivf_model(spark, sf_dir)
    assigned = model.transform(vecs).select(
        "vec_id", "embedding", F.col("prediction").alias("list_id")
    )
    centroids = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())],
        "list_id int, centroid array<double>",
    )
    q = assigned.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    # nprobe nearest centroids per query
    qc = (
        F.broadcast(q)
        .crossJoin(F.broadcast(centroids))
        .select(
            "qid", "qv", "list_id",
            F.round(cosine(F.col("qv"), F.col("centroid")), 6).alias("c_sim"),
        )
    )
    wq = Window.partitionBy("qid").orderBy(F.col("c_sim").desc(), F.col("list_id"))
    probed = qc.withColumn("pr", F.row_number().over(wq)).filter(F.col("pr") <= 3)
    cand = probed.select("qid", "qv", "list_id").join(
        assigned.select(
            F.col("vec_id").alias("cid"), F.col("embedding").alias("cv"), "list_id"
        ),
        "list_id",
    ).filter(F.col("qid") != F.col("cid"))
    # No .distinct(): each corpus vector lives in exactly ONE inverted
    # list, so a (qid, cid) pair can surface from at most one probed
    # list — the old distinct was a full extra exchange + aggregate for
    # rows that were already unique (r13 optimization).
    scored = cand.select(
        "qid", "cid", F.round(cosine(F.col("qv"), F.col("cv")), 6).alias("cos_sim")
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos_sim").desc(), F.col("cid"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= TOP_K)
        .orderBy("qid", "rk")
    )


TRUNC_DIM = 16  # matryoshka prefix length


@register(
    "sim_topk_truncated",
    oracle=f"""
    WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[])[1:{TRUNC_DIM}] AS qv
               FROM embeddings WHERE vec_id < {N_QUERIES}),
    c AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[])[1:{TRUNC_DIM}] AS cv
          FROM embeddings),
    scored AS (
        SELECT qid, cid,
               round(list_cosine_similarity(qv, cv), 6) AS cos_sim
        FROM q JOIN c ON qid <> cid
    )
    SELECT qid, cid, cos_sim, CAST(rk AS BIGINT) AS rk
    FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                                     ORDER BY cos_sim DESC, cid) AS rk
        FROM scored
    )
    WHERE rk <= {TOP_K}
    ORDER BY qid, rk
    """,
)
def sim_topk_truncated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-truncated retrieval: exact top-k over only the first
    {TRUNC_DIM} dimensions of each embedding — the cheap first stage of
    a truncate-then-rerank cascade (prefix dot products cost dim/4 of
    the full scan; compare against sim_topk_cosine to measure the
    rank agreement the truncation keeps)."""
    e = load_table(spark, sf_dir, "embeddings")
    trunc = F.slice(F.col("embedding"), 1, TRUNC_DIM)
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"), trunc.alias("qv")
    )
    c = e.select(F.col("vec_id").alias("cid"), trunc.alias("cv"))
    scored = (
        F.broadcast(q)
        .join(c, F.col("qid") != F.col("cid"))
        .select(
            "qid",
            "cid",
            F.round(cosine(F.col("qv"), F.col("cv")), 6).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos_sim").desc(), F.col("cid"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= TOP_K)
        .orderBy("qid", "rk")
    )


@register(
    "embed_quantize_int8",
    oracle="""
    WITH v AS (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS vec
        FROM embeddings WHERE vec_id < 200
    ),
    scaled AS (
        SELECT vec_id, label,
               list_aggregate(list_transform(vec, x -> abs(x)), 'max') / 127.0
                   AS scale,
               vec
        FROM v
    )
    SELECT vec_id, label, round(scale, 6) AS scale_r,
           round(list_aggregate(
               list_transform(vec, x -> abs(x - round(x / scale) * scale)),
               'max'), 6) AS max_err
    FROM scaled
    ORDER BY vec_id
    """,
)
def embed_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization audit: per-vector scale =
    max|x| / 127, worst-case reconstruction error per vector — the
    4x-compression sanity check before shipping a quantized ANN index
    (error must stay below scale/2). All JVM-side higher-order
    functions; the oracle mirrors each lambda in DuckDB list calls."""
    e = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 200)
    vec = F.col("embedding").cast("array<double>")
    scale = F.array_max(F.transform(vec, lambda x: F.abs(x))) / 127.0
    scaled = e.select("vec_id", "label", vec.alias("vec"), scale.alias("scale"))
    err = F.array_max(
        F.transform(
            F.col("vec"),
            lambda x: F.abs(x - F.round(x / F.col("scale")) * F.col("scale")),
        )
    )
    return scaled.select(
        "vec_id",
        "label",
        F.round("scale", 6).alias("scale_r"),
        F.round(err, 6).alias("max_err"),
    ).orderBy("vec_id")


@register(
    "sim_norms",
    oracle="""
    SELECT vec_id, label,
           round(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                       CAST(embedding AS DOUBLE[]))), 6) AS l2_norm,
           CAST(len(embedding) AS BIGINT) AS dim
    FROM embeddings WHERE vec_id < 100 ORDER BY vec_id
    """,
)
def sim_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector norms + dimensionality audit (the sanity scan every
    embedding pipeline runs before indexing)."""
    e = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 100)
    v = F.col("embedding")
    return e.select(
        "vec_id",
        "label",
        F.round(l2_norm(v), 6).alias("l2_norm"),
        F.size("embedding").cast("long").alias("dim"),
    ).orderBy("vec_id")


N_CENTROIDS = 4  # seed centroids for the IVF train step (vec_id < 4)


@register(
    "sim_ivf_train_step",
    oracle=f"""
    WITH c AS (
        SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
        FROM embeddings WHERE vec_id < {N_CENTROIDS}
    ),
    v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vv FROM embeddings),
    scored AS (
        SELECT v.vec_id, c.cid,
               round(list_cosine_similarity(vv, cv), 6) AS sim
        FROM v CROSS JOIN c
    ),
    best AS (
        SELECT vec_id, cid, sim,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY sim DESC, cid) AS rk
        FROM scored
    )
    SELECT cid AS centroid_id,
           COUNT(*) AS n_assigned,
           CAST(CASE WHEN SUM(CAST(sim AS DECIMAL(27,6))) < 0
                     THEN -1 ELSE 1 END
                * ((2 * ABS(CAST(SUM(CAST(sim AS DECIMAL(27,6))) * 1000000
                                 AS HUGEINT)) + COUNT(*)) // (2 * COUNT(*)))
                AS DOUBLE) / 1000000.0 AS avg_sim
    FROM best WHERE rk = 1
    GROUP BY cid ORDER BY cid
    """,
)
def sim_ivf_train_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One IVF/k-means training iteration: assign every vector to its
    nearest seed centroid (max cosine, centroid-id tiebreak) and report
    the per-centroid census + mean similarity (the inertia signal a
    training loop watches for convergence). This is the step that
    produces the coarse quantizer sim_ann_ivf probes; seeds are the
    first N_CENTROIDS vectors — deterministic, no RNG.

    Scale shape: centroids broadcast (k vectors by definition); the
    assignment is a narrow map over the corpus — per-vector argmax, no
    shuffle; the census is one groupBy(k groups). Exactly the plan a
    1000-executor k-means iteration runs. Mean similarity goes through
    the exact DECIMAL sum so the oracle hash-matches (compat.py)."""
    e = load_table(spark, sf_dir, "embeddings")
    c = e.filter(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
    )
    scored = e.select("vec_id", "embedding").crossJoin(F.broadcast(c)).select(
        "vec_id",
        "cid",
        F.round(cosine(F.col("embedding"), F.col("cv")), 6).alias("sim"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("sim").desc(), F.col("cid"))
    best = scored.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") == 1)
    return (
        best.groupBy(F.col("cid").alias("centroid_id"))
        .agg(
            F.count(F.lit(1)).alias("n_assigned"),
            # integer (2u+c) div (2c) rounding — sum/count quotients
            # land exactly on 6dp half-boundaries where the engines'
            # round() semantics disagree (round-8 sweep class).
            # Cosine sums can be NEGATIVE, and the half-up identity
            # only holds for u >= 0 — an unguarded negative quotient
            # is not the half-up value, and integer-division behavior
            # on negative operands is engine/version-dependent (floor
            # vs truncate) — so apply it to |sum| and reattach the
            # sign (half-away-from-zero, identical in both engines;
            # guarded cross-engine in tests/test_driver_canon.py).
            (
                F.expr(
                    "CASE WHEN SUM(CAST(sim AS DECIMAL(27,6))) < 0"
                    " THEN -1 ELSE 1 END"
                    " * ((2 * ABS(CAST(SUM(CAST(sim AS DECIMAL(27,6)))"
                    " * 1000000 AS DECIMAL(38,0))) + COUNT(*))"
                    " div (2 * COUNT(*)))"
                ).cast("double")
                / 1000000.0
            ).alias("avg_sim"),
        )
        .orderBy("centroid_id")
    )


# Fixed-count power iteration on the d x d Gram. 3000, not 300
# (round-12): the sweep's numpy cross-check caught the 300-iteration
# solve unconverged at sf0.1 — spectral gap 1.7% and a near-orthogonal
# deterministic start left alignment at 0.21. Contraction (λ2/λ1)^k
# needs k >> ln(c2/c1/eps)/ln(λ1/λ2); 3000 gives e^-52 on that gap for
# ~12M driver-side flops — still trivially cheap on the 64x64 matrix.
PCA_POWER_ITERS = 3000


@register("embed_pca_power")  # rows-only: iterative eigen-solve has no SQL oracle
def embed_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First principal component of the embedding corpus by the
    two-phase pattern every distributed PCA uses: (1) the d x d
    scatter matrix of mean-centered vectors is computed as
    PER-PARTITION numpy partials (Arrow-batched mapInPandas emits one
    flattened X_c^T X_c + count + column-sum triple per batch) and
    summed — one pass, shuffle bytes O(d^2) per partition, never
    O(n); (2) the eigen-solve runs on the driver over the BOUNDED
    d x d matrix (d=64 -> 4 KB), fixed 300 power iterations from a
    deterministic start, sign-fixed so the largest-|loading|
    component is positive. Centering uses the algebraic identity
    scatter = X^T X - n * mean mean^T, so no second data pass.

    Returns (component, loading, eigenvalue, explained_ratio) — 64
    rows. Correctness is pytest-gated against numpy.linalg.eigh on
    the collected fixture (tests/test_behavior_dq.py); the driver
    records the rows-only check."""
    import numpy as np
    import pandas as pd

    d_tbl = load_table(spark, sf_dir, "embeddings")
    dim = 64

    def gram_partials(batches):
        for pdf in batches:
            x = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            if x.size == 0:
                continue
            yield pd.DataFrame(
                {
                    "n": [float(len(x))],
                    "colsum": [x.sum(axis=0).tolist()],
                    "xtx": [(x.T @ x).ravel().tolist()],
                }
            )

    parts = d_tbl.select("embedding").mapInPandas(
        gram_partials,
        schema="n double, colsum array<double>, xtx array<double>",
    )
    rows = parts.collect()  # O(#batches) rows of size d^2 — bounded
    n = sum(r.n for r in rows)
    colsum = np.sum([np.array(r.colsum) for r in rows], axis=0)
    xtx = np.sum([np.array(r.xtx).reshape(dim, dim) for r in rows], axis=0)
    mean = colsum / n
    scatter = xtx - n * np.outer(mean, mean)
    v = np.ones(dim) / np.sqrt(dim)
    for _ in range(PCA_POWER_ITERS):
        w = scatter @ v
        v = w / np.linalg.norm(w)
    eigval = float(v @ scatter @ v) / (n - 1)  # sample variance along v
    total_var = float(np.trace(scatter)) / (n - 1)
    if v[int(np.argmax(np.abs(v)))] < 0:
        v = -v
    out = [
        (int(i), float(v[i]), eigval, eigval / total_var) for i in range(dim)
    ]
    return spark.createDataFrame(
        out, "component int, loading double, eigenvalue double, explained_ratio double"
    )


MAXSIM_N_QUERY = 6  # query token-vectors (ColBERT-style late interaction)


@register(
    "sim_maxsim_multivector",
    oracle=f"""
    WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
               FROM embeddings WHERE vec_id < {MAXSIM_N_QUERY}),
    c AS (SELECT vec_id AS cid, label AS doc_id,
                 CAST(embedding AS DOUBLE[]) AS cv
          FROM embeddings WHERE vec_id >= {MAXSIM_N_QUERY}),
    per_pair AS (
        SELECT qid, doc_id,
               MAX(round(list_cosine_similarity(qv, cv), 6)) AS best
        FROM q JOIN c ON TRUE
        GROUP BY qid, doc_id
    ),
    scored AS (
        SELECT doc_id,
               CAST(SUM(CAST(best AS DECIMAL(27,6))) AS DOUBLE) AS maxsim,
               COUNT(*) AS n_query_vecs
        FROM per_pair GROUP BY doc_id
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id, round(maxsim, 6) AS maxsim,
           CAST(n_query_vecs AS BIGINT) AS n_query_vecs
    FROM scored ORDER BY maxsim DESC, doc_id
    """,
)
def sim_maxsim_multivector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ColBERT-style late-interaction retrieval (MaxSim): documents
    are multi-vector bags (here the label groups), the query is a
    small bag of token vectors, and score(doc) = sum over query
    vectors of the BEST cosine against any doc vector — the modern
    multi-vector ranking single-vector cosine cannot express.

    Scale shape: the tiny query bag broadcasts against the corpus
    scan (embarrassingly parallel cosines, JVM zip_with fold); the
    per-(query-vector, doc) max and the per-doc sum are ordinary
    partial aggregations — no all-pairs doc work, and at 100 TB the
    corpus side would first shrink through an ANN candidate stage
    (sim_ann_lsh) exactly as single-vector retrieval does. Inner
    cosines round to 6dp BEFORE max (engine-identical per the
    sim_topk_cosine convention); the final sum runs through
    DECIMAL(27,6)."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < MAXSIM_N_QUERY).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    c = e.filter(F.col("vec_id") >= MAXSIM_N_QUERY).select(
        F.col("label").alias("doc_id"), F.col("embedding").alias("cv")
    )
    per_pair = (
        F.broadcast(q)
        .crossJoin(c)
        .groupBy("qid", "doc_id")
        .agg(F.max(F.round(cosine(F.col("qv"), F.col("cv")), 6)).alias("best"))
    )
    return (
        per_pair.groupBy("doc_id")
        .agg(
            F.round(
                F.sum(F.col("best").cast("decimal(27,6)")).cast("double"), 6
            ).alias("maxsim"),
            F.count(F.lit(1)).alias("n_query_vecs"),
        )
        .select(
            F.col("doc_id").cast("long").alias("doc_id"),
            "maxsim",
            F.col("n_query_vecs").cast("long").alias("n_query_vecs"),
        )
        .orderBy(F.desc("maxsim"), "doc_id")
    )


PQ_SUBS = 8       # subspaces (64-dim embedding -> 8 x 8-dim slices)
PQ_SUBDIM = 8
PQ_CODES = 32     # codewords per subspace
PQ_SEED_BASE = 100  # vec_id of the first codebook-seeding vector
PQ_TOP_K = 10
# Trained-codebook cache per (session, sf_dir): an index build runs once
# and serves many queries — rebuilding (and re-running the Lloyd step)
# per invocation would misstate the operator's steady-state cost.
_PQ_CB_CACHE: dict = {}


def _pq_subdist(vec_col: str):
    """Squared L2 between a vector's sub-slice and the codeword
    (requires ``sub`` and ``cw`` columns in scope)."""
    return F.aggregate(
        F.zip_with(
            F.slice(vec_col, F.col("sub") * PQ_SUBDIM + 1, PQ_SUBDIM),
            F.col("cw"),
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _pq_encode(e: DataFrame, cb_df: DataFrame) -> DataFrame:
    """Encode: argmin codeword per (vec, sub) against a broadcast book."""
    return (
        e.crossJoin(F.broadcast(cb_df))
        .select(
            "vec_id",
            "sub",
            "code",
            F.round(_pq_subdist("embedding"), 9).alias("d2"),
        )
        .groupBy("vec_id", "sub")
        .agg(F.min(F.struct("d2", "code")).alias("m"))
        .select("vec_id", "sub", F.col("m.code").alias("code"))
    )


PQ_LLOYD_STEPS = 1  # distributed Lloyd iterations refining the seeds


def _pq_refined_codebook(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (sub, code, cw) PQ codebook: PQ_CODES corpus vectors from
    vec_id PQ_SEED_BASE seed one codeword per subspace each, then
    PQ_LLOYD_STEPS distributed Lloyd steps (assign -> per-dimension
    mean; a codeword that loses all members keeps its previous
    position) sharpen them — the same trainer pattern
    sim_ivf_train_step shows for the coarse quantizer; production
    raises PQ_LLOYD_STEPS toward convergence. Measured on the 5-query
    evaluation panel of rounds 11 and earlier (recall granularity
    1/50 = 0.02; 20 queries since round 12), steps 1/2/3 landed
    recall@10 in 0.24-0.32 across sf0.001-0.1 with no monotone
    winner — the panel is a smoke-sized sample, so extra local steps
    are noise here and 1 keeps the historical codebook bit-stable.
    Caveat to that bit-stability claim: the empty-cell rule differs
    from the pre-loop trainer (which silently DROPPED empty codes) —
    if a codeword lost all members on the first assignment, the
    coalesce-to-float-seed path would diverge from the old behavior.
    No fixture at sf0.001-1.0 produces an empty first-assignment cell
    (the recall gates pass), so this is a documented edge, not a
    reachable difference.

    Cached per (session, sf_dir) as COLLECTED rows (8x32, tiny), not a
    checkpointed DataFrame: harnesses call materialize.release_all()
    between queries, which would strand a cached lineage-truncated
    checkpoint (verified: CHECKPOINT_BLOCK_NOT_FOUND on reuse)."""
    cache_key = (spark.sparkContext.applicationId, sf_dir)
    cb_rows = _PQ_CB_CACHE.get(cache_key)
    if cb_rows is None:
        # Train on a CANONICAL load of the corpus, not the caller's
        # frame (same rationale as _ivf_model: a session-cached
        # codebook must not depend on which caller — possibly holding
        # a repartitioned view — trained it first).
        e = load_table(spark, sf_dir, "embeddings")
        subs = spark.range(PQ_SUBS).select(F.col("id").cast("int").alias("sub"))
        cb = (
            e.filter(
                (F.col("vec_id") >= PQ_SEED_BASE)
                & (F.col("vec_id") < PQ_SEED_BASE + PQ_CODES)
            )
            .select(
                (F.col("vec_id") - PQ_SEED_BASE).cast("int").alias("code"),
                "embedding",
            )
            .crossJoin(subs)
            .select(
                "sub",
                "code",
                F.slice(
                    "embedding", F.col("sub") * PQ_SUBDIM + 1, PQ_SUBDIM
                ).alias("cw"),
            )
        )
        sliced = e.crossJoin(subs).select(
            "vec_id",
            "sub",
            F.slice("embedding", F.col("sub") * PQ_SUBDIM + 1, PQ_SUBDIM).alias(
                "sv"
            ),
        )
        for _ in range(PQ_LLOYD_STEPS):
            per_dim = (
                _pq_encode(e, cb)
                .join(sliced, ["vec_id", "sub"])
                .select("sub", "code", F.posexplode("sv").alias("dim", "val"))
                .groupBy("sub", "code", "dim")
                .agg(F.avg(F.col("val").cast("double")).alias("mv"))
            )
            stepped = (
                per_dim.groupBy("sub", "code")
                .agg(
                    F.array_sort(
                        F.collect_list(F.struct("dim", "mv"))
                    ).alias("a")
                )
                .select(
                    "sub",
                    "code",
                    F.transform("a", lambda s: s["mv"]).alias("cw_new"),
                )
            )
            # empty cells keep their previous codeword (outer join):
            # dropping them would shrink the codebook mid-training.
            # Each step collects the 8x32 codebook (bounded, same size
            # as the final cache) so the next assignment pass starts
            # from literal rows, not a per-step-deeper lazy plan.
            step_rows = [
                (r.sub, r.code, list(r.cw))
                for r in cb.join(stepped, ["sub", "code"], "left")
                .select(
                    "sub",
                    "code",
                    F.coalesce("cw_new", F.col("cw").cast("array<double>"))
                    .alias("cw"),
                )
                .collect()
            ]
            cb = spark.createDataFrame(
                step_rows, "sub int, code int, cw array<double>"
            )
        cb_rows = [(r.sub, r.code, list(r.cw)) for r in cb.collect()]
        _PQ_CB_CACHE[cache_key] = cb_rows
    return spark.createDataFrame(cb_rows, "sub int, code int, cw array<double>")


def _pq_query_tables(e: DataFrame, cb1: DataFrame) -> DataFrame:
    """ADC: per-query squared-L2 distance table to every refined
    codeword — (qid, sub, code, d2), 8x32 rows per query, broadcast."""
    return (
        e.filter(F.col("vec_id") < N_QUERIES)
        .select(F.col("vec_id").alias("qid"), "embedding")
        .crossJoin(F.broadcast(cb1))
        .select("qid", "sub", "code", F.round(_pq_subdist("embedding"), 9).alias("d2"))
    )


@register("sim_ann_pq")  # rows-only: code assignments are index-layout
def sim_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN — the third member of the index family
    (LSH buckets, IVF lists, PQ codes): each vector is compressed to 8
    one-nibble codes (64 floats -> 4 bytes, a 64x memory cut), and
    query search is Asymmetric Distance Computation: precompute the
    query's 8x16 distance table to every codeword, then a vector's
    approximate distance is EIGHT table lookups summed — no float
    vector is ever touched at query time.

    Codebook: see _pq_refined_codebook (seeded + one Lloyd step,
    cached per session).

    Scale shape: encoding joins the corpus against a BROADCAST
    8x16-row codebook and argmins per (vector, subspace) — a narrow
    map + one groupBy keyed by (vec_id, sub), embarrassingly parallel.
    The ADC scoring stage, however, is O(corpus x queries) lookups BY
    CONSTRUCTION (every vector is scored for every query) — fine for a
    bounded evaluation panel like this one; at 100 TB PQ must compose
    with a coarse index so only candidate lists are scored, which is
    exactly what sim_ann_ivf_pq below does. tests/test_llm.py gates
    recall vs the exact baseline."""
    # spread=True: the encode crossJoin (256 codeword distances/row)
    # and ADC fan-out fuse into the scan; a one-row-group fixture runs
    # them on one core without it (A/B: 3.4s -> 1.9s; training reads
    # its own canonical load, see _pq_refined_codebook).
    e = load_table(spark, sf_dir, "embeddings", spread=True)
    cb1 = _pq_refined_codebook(spark, sf_dir)
    codes = _pq_encode(e, cb1)
    dt = _pq_query_tables(e, cb1)
    scored = (
        codes.join(F.broadcast(dt), ["sub", "code"])
        .filter(F.col("vec_id") != F.col("qid"))
        .groupBy("qid", F.col("vec_id").alias("cid"))
        .agg(F.round(F.sum("d2"), 6).alias("approx_d2"))
    )
    w = Window.partitionBy("qid").orderBy(F.col("approx_d2").asc(), F.col("cid"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= PQ_TOP_K)
        .orderBy("qid", "rk")
    )


IVF_PQ_K = 16      # coarse-quantizer centroids (matches sim_ann_ivf)
IVF_PQ_NPROBE = 3  # lists probed per query (matches sim_ann_ivf)
# Trained-model cache per (session, sf_dir): same rationale as
# _PQ_CB_CACHE above — an index trains once and serves many queries.
# The MODEL is cached (not just its centers) so sim_ann_ivf's
# `.transform` assignment and the ADC pipeline's centroid table come
# from ONE fit; previously sim_ann_ivf re-ran the identical
# KMeans(k=16, seed=42) job on every invocation (r13 optimization —
# the fit was the single biggest repeated job inside
# sim_ann_recall_report).
_IVF_MODEL_CACHE: dict = {}


def _ivf_model(spark: SparkSession, sf_dir: str):
    """The coarse-quantizer KMeansModel, trained once per
    (session, sf_dir) on the corpus embeddings (fixed seed)."""
    key = (spark.sparkContext.applicationId, sf_dir)
    model = _IVF_MODEL_CACHE.get(key)
    if model is None:
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        # Train on a CANONICAL load of the corpus, not the caller's
        # frame: callers may pass a repartitioned (spread) view, and a
        # session-cached model must never depend on which caller
        # trained it first (float reductions are partition-order
        # sensitive in general).
        vecs = load_table(spark, sf_dir, "embeddings").select(
            array_to_vector("embedding").alias("features")
        )
        model = KMeans(
            k=IVF_PQ_K, seed=42, maxIter=10, featuresCol="features"
        ).fit(vecs)
        _IVF_MODEL_CACHE[key] = model
    return model


def _ivf_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(list_id, centroid) coarse-quantizer table: the shared model's
    centers (16 rows) as a broadcastable DataFrame."""
    model = _ivf_model(spark, sf_dir)
    rows = [
        (i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())
    ]
    return spark.createDataFrame(rows, "list_id int, centroid array<double>")


def _l2sq(a, b):
    """Squared L2 between two array columns."""
    return F.aggregate(
        F.zip_with(
            a,
            b,
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _ivf_pq_adc_scores(
    spark: SparkSession, sf_dir: str, e: DataFrame
) -> DataFrame:
    """Shared IVFADC pipeline — (qid, cid, approx_d2) for every
    candidate in the probed inverted lists (the body of sim_ann_ivf_pq
    steps 1-4; sim_ann_ivf_pq_rerank re-ranks its shortlist)."""
    centroids = _ivf_centroids(spark, sf_dir)
    # (1) inverted-list assignment (Euclidean argmin, = KMeans.transform)
    assigned = (
        e.crossJoin(F.broadcast(centroids))
        .select(
            "vec_id",
            "list_id",
            F.round(_l2sq(F.col("embedding"), F.col("centroid")), 9).alias("d2"),
        )
        .groupBy("vec_id")
        .agg(F.min(F.struct("d2", "list_id")).alias("m"))
        .select("vec_id", F.col("m.list_id").alias("list_id"))
    )
    # (2) PQ codes (shared, cached codebook)
    cb1 = _pq_refined_codebook(spark, sf_dir)
    codes = _pq_encode(e, cb1)
    # (3) query probe: nprobe nearest lists per query
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    qc = (
        F.broadcast(q)
        .crossJoin(F.broadcast(centroids))
        .select(
            "qid",
            "list_id",
            F.round(_l2sq(F.col("qv"), F.col("centroid")), 9).alias("c_d2"),
        )
    )
    wq = Window.partitionBy("qid").orderBy(F.col("c_d2").asc(), F.col("list_id"))
    probed = (
        qc.withColumn("pr", F.row_number().over(wq))
        .filter(F.col("pr") <= IVF_PQ_NPROBE)
        .select("qid", "list_id")
    )
    cands = (
        assigned.join(F.broadcast(probed), "list_id")
        .filter(F.col("qid") != F.col("vec_id"))
        .select("qid", "vec_id")
    )
    # (4) ADC over candidates only
    dt = _pq_query_tables(e, cb1)
    return (
        cands.join(codes, "vec_id")
        .join(F.broadcast(dt), ["qid", "sub", "code"])
        .groupBy("qid", F.col("vec_id").alias("cid"))
        .agg(F.round(F.sum("d2"), 6).alias("approx_d2"))
    )


@register("sim_ann_ivf_pq")  # rows-only: composed index layout is engine-specific
def sim_ann_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF+PQ — the composed index that makes PQ scale-true (VERDICT r7
    ask #4): the IVF coarse quantizer restricts each query to its
    nprobe=3 nearest inverted lists, and ADC scoring runs
    ONLY over those candidate lists — scored pairs are O(candidates) =
    O(nprobe/k x corpus) per query, never O(corpus x queries). This is
    the FAISS IVFPQ layout re-expressed as DataFrame algebra.

    Plan: (1) corpus -> list_id by argmin squared-L2 against the 16
    broadcast centroids (crossJoin-broadcast + per-vec argmin groupBy;
    at 100 TB the assignment is a stored index column written at ingest,
    not recomputed); (2) corpus -> 8 PQ codes against the broadcast
    refined codebook (same encode as sim_ann_pq — also an ingest-time
    column in production); (3) queries probe nprobe centroids, the
    probe table joins the list assignment to produce (qid, cid)
    candidates; (4) ADC: candidates join the code table and the
    broadcast per-query distance tables, one groupBy sums 8 lookups.
    tests/test_llm.py gates recall >= plain PQ's floor."""
    # spread=True: list assignment + PQ encode are per-row argmins
    # fused into the scan (A/B: -0.33s; trainers read canonical loads).
    e = load_table(spark, sf_dir, "embeddings", spread=True)
    return _ivf_pq_topk(_ivf_pq_adc_scores(spark, sf_dir, e))


def _ivf_pq_topk(scored: DataFrame) -> DataFrame:
    """ADC top-k: rank candidates by approximate distance alone."""
    w = Window.partitionBy("qid").orderBy(F.col("approx_d2").asc(), F.col("cid"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= PQ_TOP_K)
        .orderBy("qid", "rk")
    )


RERANK_SHORTLIST = 40  # ADC candidates exact-reranked per query


@register("sim_ann_ivf_pq_rerank")  # rows-only: composed index layout
def sim_ann_ivf_pq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC+R — the full production retrieval layout: the composed
    IVF+PQ index produces an ADC shortlist (RERANK_SHORTLIST=40 per
    query), then EXACT squared-L2 re-ranking runs over the shortlist
    only, erasing PQ quantization error from the final ordering. The
    returned top-k is exact *within the candidates the coarse index
    surfaced*, so recall is bounded only by inverted-list coverage —
    measurably above raw ADC's, which additionally loses neighbors to
    8-nibble code collisions (tests/test_llm.py and the parity sweep
    gate both families' floors; the rerank floor sits strictly above
    ivf_pq's).

    Scale shape: the shortlist is queries x 40 rows (tiny, broadcast);
    the exact pass joins it against the corpus ONCE on vec_id to fetch
    the 40 true vectors per query — one hash-join scan, O(queries x
    shortlist x d) distance work, never O(corpus). At 100 TB this is
    the standard two-stage retrieval: ADC narrows millions to dozens
    reading only 4-byte codes; the float vectors are touched for the
    final dozens alone (FAISS's IVFPQR / DiskANN's rerank stage)."""
    # spread=True: same scan-fused per-row work as sim_ann_ivf_pq
    # (A/B: -0.45s; trainers read canonical loads).
    e = load_table(spark, sf_dir, "embeddings", spread=True)
    return _rerank_topk(e, _ivf_pq_adc_scores(spark, sf_dir, e))


def _rerank_topk(e: DataFrame, scored: DataFrame) -> DataFrame:
    """Exact-L2 re-rank of the per-query ADC shortlist."""
    wa = Window.partitionBy("qid").orderBy(F.col("approx_d2").asc(), F.col("cid"))
    shortlist = (
        scored.withColumn("ar", F.row_number().over(wa))
        .filter(F.col("ar") <= RERANK_SHORTLIST)
        .select("qid", "cid")
    )
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    exact = (
        e.select(F.col("vec_id").alias("cid"), F.col("embedding").alias("cv"))
        .join(F.broadcast(shortlist), "cid")
        .join(F.broadcast(q), "qid")
        .select(
            "qid",
            "cid",
            F.round(_l2sq(F.col("qv"), F.col("cv")), 9).alias("exact_d2"),
        )
    )
    wr = Window.partitionBy("qid").orderBy(F.col("exact_d2").asc(), F.col("cid"))
    return (
        exact.withColumn("rk", F.row_number().over(wr).cast("long"))
        .filter(F.col("rk") <= PQ_TOP_K)
        .orderBy("qid", "rk")
    )


@register("sim_ann_recall_report")  # rows-only: evaluates engine-local indexes
def sim_ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-quality evaluation AS a query: recall@k of each ANN
    family (hyperplane LSH, IVF centroid-probe, product quantization,
    the composed IVF+PQ, and IVF+PQ with exact shortlist re-ranking —
    the last being the 100 TB deployment layout)
    against the exact brute-force baseline, computed entirely
    Spark-side — the report a pipeline runs after (re)building an
    index and gates deployment on. Exact and approximate top-k sets
    join on (qid, cid); recall = |approx ∩ exact| / k per query,
    rolled up per method.

    Scale shape: each method's candidate generation is its own bounded
    plan (documented at its definition); the evaluation itself joins
    tiny top-k sets (queries × k rows) — negligible. At 100 TB the
    exact baseline is computed once on a fixed evaluation query sample
    exactly like this one (vec_id < N_QUERIES=20)."""
    # (The r12 A/B that regressed under a spread scan predates the
    # canonical-trained shared KMeans model; with trainers pinned to
    # canonical loads the report's inputs are layout-independent.)
    # Materialized: the brute-force baseline feeds two consumers per
    # method x three methods — without one execution point it would
    # re-run six times per invocation.
    exact = materialize(sim_topk_cosine(spark, sf_dir).select("qid", "cid"))

    def recall_of(name: str, approx: DataFrame) -> DataFrame:
        hits = exact.join(approx.select("qid", "cid"), ["qid", "cid"])
        per_q = (
            exact.select("qid").distinct()
            .join(
                hits.groupBy("qid").agg(F.count(F.lit(1)).alias("n_hit")),
                "qid",
                "left",
            )
            .select("qid", F.coalesce("n_hit", F.lit(0)).alias("n_hit"))
        )
        return per_q.agg(
            F.lit(name).alias("method"),
            F.count(F.lit(1)).alias("n_queries"),
            F.round(F.sum("n_hit") / (F.count(F.lit(1)) * TOP_K), 4).alias(
                "recall_at_k"
            ),
        )

    lsh = recall_of("lsh", sim_ann_lsh(spark, sf_dir))
    ivf = recall_of("ivf", sim_ann_ivf(spark, sf_dir))
    pq = recall_of("pq", sim_ann_pq(spark, sf_dir).filter(F.col("rk") <= TOP_K))
    # ivf_pq and its exact-reranked variant share ONE materialized ADC
    # candidate frame — the composed index is the report's most
    # expensive pipeline and would otherwise run twice.
    e = load_table(spark, sf_dir, "embeddings", spread=True)
    scored = materialize(_ivf_pq_adc_scores(spark, sf_dir, e))
    ivf_pq = recall_of("ivf_pq", _ivf_pq_topk(scored).filter(F.col("rk") <= TOP_K))
    rerank = recall_of(
        "ivf_pq_rerank", _rerank_topk(e, scored).filter(F.col("rk") <= TOP_K)
    )
    return (
        lsh.unionByName(ivf)
        .unionByName(pq)
        .unionByName(ivf_pq)
        .unionByName(rerank)
        .orderBy("method")
    )


@register(
    "embed_drift_report",
    oracle="""
    WITH tagged AS (
        SELECT vec_id % 2 = 0 AS grp_a,
               CAST(e.val AS DOUBLE) AS v, e.dim
        FROM embeddings,
             LATERAL (SELECT UNNEST(embedding) AS val,
                             generate_subscripts(embedding, 1) AS dim) e
    ),
    dims AS (
        SELECT dim,
               CAST(CAST(SUM(CASE WHEN grp_a THEN
                        CAST(v AS DECIMAL(27,12)) END) AS VARCHAR)
                    AS DOUBLE)
                   / SUM(CASE WHEN grp_a THEN 1 ELSE 0 END) AS ma,
               CAST(CAST(SUM(CASE WHEN NOT grp_a THEN
                        CAST(v AS DECIMAL(27,12)) END) AS VARCHAR)
                    AS DOUBLE)
                   / SUM(CASE WHEN NOT grp_a THEN 1 ELSE 0 END) AS mb
        FROM tagged GROUP BY dim
    ),
    mom AS (
        SELECT CAST(CAST(SUM(CAST(round(ma * mb, 18)
                     AS DECIMAL(27,18))) AS VARCHAR) AS DOUBLE) AS sab,
               CAST(CAST(SUM(CAST(round(ma * ma, 18)
                     AS DECIMAL(27,18))) AS VARCHAR) AS DOUBLE) AS saa,
               CAST(CAST(SUM(CAST(round(mb * mb, 18)
                     AS DECIMAL(27,18))) AS VARCHAR) AS DOUBLE) AS sbb,
               CAST(CAST(SUM(CAST(round((ma - mb) * (ma - mb), 18)
                     AS DECIMAL(27,18))) AS VARCHAR) AS DOUBLE) AS sdd
        FROM dims
    ),
    ns AS (
        SELECT CAST(SUM(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_a,
               CAST(SUM(CASE WHEN vec_id % 2 = 0 THEN 0 ELSE 1 END)
                    AS BIGINT) AS n_b
        FROM embeddings
    )
    SELECT ns.n_a, ns.n_b,
           round(mom.sab / (sqrt(mom.saa) * sqrt(mom.sbb)), 6)
               AS centroid_cosine,
           round(sqrt(mom.sdd), 6) AS centroid_l2_dist
    FROM mom CROSS JOIN ns
    """,
)
def embed_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space drift between two corpus cohorts (even vs odd
    vec_id, standing in for consecutive snapshot ingests): cosine
    similarity and L2 distance between the cohort CENTROIDS — the
    cheap early-warning a retrieval/dedup pipeline checks before
    trusting that yesterday's IVF centroids and LSH thresholds still
    fit today's corpus (complements dq_distribution_drift_psi's
    scalar PSI and text_js_divergence's vocabulary drift with the
    embedding-space view).

    Scale shape: ONE posexplode + ONE (dim)-grouped aggregation
    carrying both cohorts as conditional sums (128 groups at d=64 —
    map-side combinable, no cohort join); the centroid moments fold
    64 rows. Exactness: float32 components cast to DECIMAL(27,12)
    (12dp keeps the term inside the cross-engine shortest-repr
    bound at |v|<1), per-dim means through the VARCHAR hop, and the
    four centroid moments sum 18dp-rounded products of identical
    doubles — both engines hash-match."""
    e = load_table(spark, sf_dir, "embeddings")
    tagged = e.select(
        (F.col("vec_id") % 2 == 0).alias("grp_a"),
        F.posexplode("embedding").alias("dim0", "val"),
    ).select(
        "grp_a",
        (F.col("dim0") + 1).alias("dim"),
        F.col("val").cast("double").alias("v"),
    )
    dims = tagged.groupBy("dim").agg(
        (
            F.expr(
                "CAST(CAST(SUM(CASE WHEN grp_a THEN"
                " CAST(v AS DECIMAL(27,12)) END) AS STRING) AS DOUBLE)"
            )
            / F.sum(F.when(F.col("grp_a"), 1).otherwise(0))
        ).alias("ma"),
        (
            F.expr(
                "CAST(CAST(SUM(CASE WHEN NOT grp_a THEN"
                " CAST(v AS DECIMAL(27,12)) END) AS STRING) AS DOUBLE)"
            )
            / F.sum(F.when(~F.col("grp_a"), 1).otherwise(0))
        ).alias("mb"),
    )

    def msum(term: str, out: str) -> F.Column:
        return F.expr(
            f"CAST(CAST(SUM(CAST(round({term}, 18) AS DECIMAL(27,18)))"
            f" AS STRING) AS DOUBLE)"
        ).alias(out)

    mom = dims.agg(
        msum("ma * mb", "sab"),
        msum("ma * ma", "saa"),
        msum("mb * mb", "sbb"),
        msum("(ma - mb) * (ma - mb)", "sdd"),
    )
    ns = e.agg(
        F.sum(F.when(F.col("vec_id") % 2 == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_a"),
        F.sum(F.when(F.col("vec_id") % 2 == 0, 0).otherwise(1))
        .cast("long")
        .alias("n_b"),
    )
    return mom.crossJoin(F.broadcast(ns)).select(
        "n_a",
        "n_b",
        F.round(
            F.expr("sab / (sqrt(saa) * sqrt(sbb))"), 6
        ).alias("centroid_cosine"),
        F.round(F.expr("sqrt(sdd)"), 6).alias("centroid_l2_dist"),
    )
