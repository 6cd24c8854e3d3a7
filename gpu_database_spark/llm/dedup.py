"""Deduplication operators for training-data pipelines.

Exact (hash-groupBy), MinHash + LSH banding (shingle -> minhash ->
band -> bucket self-join), SimHash, and n-gram Jaccard — the standard
near-dup stack for 100 TB corpora. All hashes derive from md5 so the
DuckDB oracle reproduces every stage bit-for-bit (Spark's xxhash64 is
engine-specific; md5 costs more per byte but the *shape* of the
pipeline — and its shuffles — is identical, and at scale you'd swap
the hash function, not the plan).

Scale notes: every stage is shuffle-bounded by (doc_id) or
(band, signature); the LSH self-join only ever joins within buckets,
never all-pairs. Exact dedup groups on a 128-bit content hash —
collision-free in practice and mergeable across 100 TB partitions.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gpu_database_spark.functions.materialize import fixed_point, materialize
from gpu_database_spark.registry import register
from gpu_database_spark.sources.catalog import load_table

N_HASHES = 8          # minhash signature length
BAND_ROWS = 2         # rows per LSH band -> 4 bands
SHINGLE_WORDS = 3     # word-shingle width


def words_col(text: Column) -> Column:
    return F.split(F.trim(text), r"\s+")


def shingles(docs: DataFrame) -> DataFrame:
    """(doc_id, shingle): word 3-gram shingles; docs shorter than the
    shingle width contribute their full text as one shingle."""
    w = words_col(F.col("text"))
    n_sh = F.greatest(F.size(w) - (SHINGLE_WORDS - 1), F.lit(1))
    return (
        docs.select("doc_id", w.alias("words"), n_sh.alias("n_sh"))
        .select(
            "doc_id",
            F.explode(F.sequence(F.lit(1), F.col("n_sh"))).alias("pos"),
            "words",
        )
        .select(
            "doc_id",
            F.concat_ws(" ", F.slice(F.col("words"), F.col("pos"), SHINGLE_WORDS)).alias(
                "shingle"
            ),
        )
    )


_SHINGLES_SQL = f"""
    SELECT doc_id,
           array_to_string(words[pos:pos + {SHINGLE_WORDS - 1}], ' ') AS shingle
    FROM (
        SELECT doc_id, words,
               unnest(range(1, greatest(len(words) - {SHINGLE_WORDS - 1}, 1) + 1)) AS pos
        FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS words
              FROM documents)
    )
"""


def minhash_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, h, minhash): N_HASHES md5-family minhashes per doc.

    The 8 hash functions are the 8 fixed-width hex chunks of TWO md5
    digests (md5(s) and md5('x:'||s)) — 2 digest computations per
    shingle instead of 8 with per-h salts, ~4x cheaper in the hot
    (shingle) dimension, and lexicographic min of a fixed-width hex
    chunk equals numeric min of the 32-bit hash it encodes. The
    signature row h is the min over the doc's shingles (classic
    permutation-free minhash).
    """
    sh = shingles(docs)
    m1, m2 = F.md5("shingle"), F.md5(F.concat(F.lit("x:"), F.col("shingle")))
    base = sh.select("doc_id", m1.alias("m1"), m2.alias("m2"))
    # 8 column-wise MINs in ONE grouped agg, then explode the tiny
    # per-doc result to (h, minhash) rows: the shingle stream passes the
    # partial aggregation once (not 8x via posexplode-then-group), so
    # map-side state and shuffle rows are per-doc, not per-(doc, h).
    mins = [
        F.min(F.substring("m1", 1 + 8 * i, 8)).alias(f"c{i}") for i in range(4)
    ] + [F.min(F.substring("m2", 1 + 8 * i, 8)).alias(f"c{i + 4}") for i in range(4)]
    return (
        base.groupBy("doc_id")
        .agg(*mins)
        .select(
            "doc_id",
            F.posexplode(F.array(*[f"c{i}" for i in range(8)])).alias("h", "hv"),
        )
        .select("doc_id", F.col("h").cast("long").alias("h"), F.col("hv").alias("minhash"))
    )


_MINHASH_SQL = f"""
    SELECT doc_id, h,
           MIN(substr(CASE WHEN h < 4 THEN m1 ELSE m2 END, 1 + (h % 4) * 8, 8)) AS minhash
    FROM (SELECT doc_id, md5(shingle) AS m1, md5('x:' || shingle) AS m2
          FROM ({_SHINGLES_SQL}) s),
         range(0, {N_HASHES}) hr(h)
    GROUP BY doc_id, h
"""


def lsh_bands(sig: DataFrame) -> DataFrame:
    """(doc_id, band, bsig): concatenate BAND_ROWS minhashes per band."""
    banded = sig.withColumn("band", (F.col("h") / BAND_ROWS).cast("long"))
    return banded.groupBy("doc_id", "band").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("h", "minhash"))),
                lambda s: s.minhash,
            ),
            "|",
        ).alias("bsig")
    )


_BANDS_SQL = f"""
    SELECT doc_id, h // {BAND_ROWS} AS band,
           string_agg(minhash, '|' ORDER BY h) AS bsig
    FROM ({_MINHASH_SQL}) m
    GROUP BY doc_id, h // {BAND_ROWS}
"""


def lsh_candidate_pairs(docs: DataFrame) -> DataFrame:
    """(doc_a, doc_b): distinct pairs sharing >=1 LSH band bucket.

    The bands table is eagerly materialized (localCheckpoint) before
    the self-join: AQE turns the join into a broadcast, whose build
    and probe sides share no exchange, so without materialization the
    whole shingle->md5->minhash pipeline — the dominant cost at scale
    — would execute twice. At 100 TB this is the standard pattern of
    persisting the (tiny, 4-rows-per-doc) signature table before
    bucket-joining it against itself. Local-mode tradeoff, on purpose:
    localCheckpoint blocks are non-replicated (an executor loss would
    fail the job); on a real cluster swap in
    persist(MEMORY_AND_DISK)+count or a reliable checkpoint for
    fault-tolerant materialization."""
    b = lsh_bands(minhash_signatures(docs)).transform(materialize)
    a = b.alias("a")
    c = b.alias("c")
    return (
        a.join(
            c,
            (F.col("a.band") == F.col("c.band"))
            & (F.col("a.bsig") == F.col("c.bsig"))
            & (F.col("a.doc_id") < F.col("c.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("c.doc_id").alias("doc_b"))
        .distinct()
    )


@register(
    "dedup_exact",
    oracle="""
    SELECT md5(text) AS content_hash,
           CAST(MIN(doc_id) AS BIGINT) AS keeper_doc_id,
           COUNT(*) AS n_copies
    FROM documents
    GROUP BY md5(text)
    HAVING COUNT(*) >= 1
    ORDER BY content_hash
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: group by 128-bit content hash, keep min doc_id.

    One shuffle on the hash; at 100 TB the group key is 16 bytes/doc
    regardless of document size.
    """
    d = load_table(spark, sf_dir, "documents")
    return (
        d.groupBy(F.md5("text").alias("content_hash"))
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .orderBy("content_hash")
    )


@register(
    "dedup_minhash_signatures",
    oracle=f"""
    {_MINHASH_SQL}
    ORDER BY doc_id, h
    """,
)
def dedup_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signature matrix (doc x 8 hashes) over word 3-gram
    shingles — the first stage of near-dup detection, checked
    bit-for-bit against the oracle."""
    d = load_table(spark, sf_dir, "documents")
    return minhash_signatures(d).orderBy("doc_id", "h")


@register(
    "dedup_lsh_pairs",
    oracle=f"""
    SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
    FROM ({_BANDS_SQL}) a JOIN ({_BANDS_SQL}) c
      ON a.band = c.band AND a.bsig = c.bsig AND a.doc_id < c.doc_id
    ORDER BY doc_a, doc_b
    """,
)
def dedup_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding: candidate near-dup pairs = docs agreeing on a full
    band of minhashes (4 bands x 2 rows). The self-join is per
    (band, signature) bucket — never all-pairs; this is the operation
    that makes near-dup feasible at 100 TB."""
    d = load_table(spark, sf_dir, "documents")
    return lsh_candidate_pairs(d).orderBy("doc_a", "doc_b")


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH sh AS (SELECT DISTINCT doc_id, shingle FROM ({_SHINGLES_SQL})),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    pairs AS (
        SELECT d1.doc_id AS doc_a, d2.doc_id AS doc_b
        FROM documents d1 JOIN documents d2
          ON d2.doc_id = d1.doc_id + 1 AND d1.lang = d2.lang
    ),
    inter AS (
        SELECT p.doc_a, p.doc_b, COUNT(*) AS m
        FROM pairs p
        JOIN sh a ON a.doc_id = p.doc_a
        JOIN sh b ON b.doc_id = p.doc_b AND b.shingle = a.shingle
        GROUP BY p.doc_a, p.doc_b
    )
    SELECT p.doc_a, p.doc_b,
           round(CAST(COALESCE(i.m, 0) AS DOUBLE)
                 / CAST(sa.n + sb.n - COALESCE(i.m, 0) AS DOUBLE), 8) AS jaccard
    FROM pairs p
    JOIN sizes sa ON sa.doc_id = p.doc_a
    JOIN sizes sb ON sb.doc_id = p.doc_b
    LEFT JOIN inter i ON i.doc_a = p.doc_a AND i.doc_b = p.doc_b
    ORDER BY p.doc_a
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard similarity on a deterministic candidate set
    (adjacent same-language doc ids — in production the candidates come
    from dedup_lsh_pairs; the fixture corpus has no true near-dups so
    LSH candidates would be empty). |A∩B| via a shingle equi-join,
    |A∪B| = |A|+|B|-|A∩B|."""
    d = load_table(spark, sf_dir, "documents")
    # Materialized once: the shingle set feeds three consumers (sizes +
    # both sides of the intersection join) that share no exchange.
    sh = shingles(d).distinct().transform(materialize)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    d2 = d.select(F.col("doc_id").alias("doc_b"), F.col("lang").alias("lang_b"))
    pairs = d.select("doc_id", "lang").join(
        d2, (F.col("doc_b") == F.col("doc_id") + 1) & (F.col("lang") == F.col("lang_b"))
    ).select(F.col("doc_id").alias("doc_a"), "doc_b")
    a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("_bdoc"), F.col("shingle").alias("shingle_b"))
    inter = (
        pairs.join(a, "doc_a")
        .join(b, (F.col("doc_b") == F.col("_bdoc")) & (F.col("shingle") == F.col("shingle_b")))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("m"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .join(inter, ["doc_a", "doc_b"], "left")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.coalesce(F.col("m"), F.lit(0)).cast("double")
                / (F.col("na") + F.col("nb") - F.coalesce(F.col("m"), F.lit(0))).cast("double"),
                8,
            ).alias("jaccard"),
        )
        .orderBy("doc_a")
    )


def connected_components(
    nodes: DataFrame, edges: DataFrame, max_iters: int = 50
) -> DataFrame:
    """Connected components by min-label propagation: every near-dup
    pair graph needs this to turn pairs into dedup CLUSTERS (keep one
    canonical doc per component).

    nodes: (id), edges: (a, b). Returns (id, component) with component
    = min node id reachable. Iterations ~ graph diameter (near-dup
    clusters are shallow); each round is one join + groupBy-min. At
    100 TB this is the standard alternating min-label loop — no
    driver-side graph. Warns if ``max_iters`` runs out before the
    labels settle.
    """
    sym = materialize(
        edges.select(F.col("a").alias("src"), F.col("b").alias("dst")).unionAll(
            edges.select(F.col("b").alias("src"), F.col("a").alias("dst"))
        ).distinct()
    )

    def propagate(labels: DataFrame) -> DataFrame:
        # Neighbor-min and the keep-own-label rule in ONE aggregation:
        # every node votes its own label alongside its neighbors'
        # (unionAll, map-side combinable), so no left-join back of the
        # labels is needed — min(own ∪ neighbors) is the same update.
        return (
            sym.join(labels, sym.dst == labels.id)
            .select(F.col("src").alias("id"), "component")
            .unionAll(labels)
            .groupBy("id")
            .agg(F.min("component").alias("component"))
        )

    def label_sum(labels: DataFrame):
        # Labels only ever DECREASE under min-propagation, so the exact
        # sum strictly decreases iff any label changed: one scan of the
        # label table per round, no self-join. NULL on an empty node
        # set (semdedup_pipeline's fixture graph), which ends the loop
        # after one round instead of max_iters rounds of empty jobs.
        return labels.agg(
            F.sum(F.col("component").cast("decimal(38,0)")).alias("s")
        ).collect()[0]["s"]

    return fixed_point(
        nodes.select(F.col("id"), F.col("id").alias("component")),
        propagate,
        max_iters=max_iters,
        probe=label_sum,
    )


@register(
    "dedup_clusters",
    oracle=f"""
    WITH RECURSIVE
    lsh AS (
        SELECT DISTINCT a.doc_id AS a, c.doc_id AS b
        FROM ({_BANDS_SQL}) a JOIN ({_BANDS_SQL}) c
          ON a.band = c.band AND a.bsig = c.bsig AND a.doc_id < c.doc_id
    ),
    ex AS (
        SELECT MIN(doc_id) AS a, MAX(doc_id) AS b
        FROM documents GROUP BY md5(text) HAVING MIN(doc_id) <> MAX(doc_id)
    ),
    edges AS (
        SELECT a, b FROM lsh UNION SELECT b, a FROM lsh
        UNION SELECT a, b FROM ex UNION SELECT b, a FROM ex
    ),
    walk(id, comp) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.b, w.comp FROM walk w JOIN edges e ON e.a = w.id
    )
    SELECT CAST(MIN(comp) AS BIGINT) AS cluster_id,
           CAST(id AS BIGINT) AS doc_id,
           (MIN(comp) = id) AS is_keeper
    FROM walk GROUP BY id ORDER BY cluster_id, doc_id
    """,
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clustering end-to-end: candidate pairs (LSH ∪ exact
    hash) -> connected components -> (component, member, is_keeper).
    The keeper (min doc_id per component) is what survives dedup; the
    fixture corpus has no planted dups, so most components are
    singletons — the pipeline shape is the deliverable (pytest also
    covers a planted multi-cluster graph against a union-find oracle).
    Oracle: min-label connected components IS SQL-expressible — the
    component of a node is MIN(id) over its undirected reachability
    set, computed by a recursive CTE walk over the identical edge set
    (per-component size² rows; fine at fixture scale, which is all the
    oracle ever runs at — the Spark loop is the 100 TB path)."""
    d = load_table(spark, sf_dir, "documents")
    lsh_pairs = lsh_candidate_pairs(d).select(
        F.col("doc_a").alias("a"), F.col("doc_b").alias("b")
    )
    exact_pairs = (
        d.groupBy(F.md5("text").alias("h"))
        .agg(F.min("doc_id").alias("a"), F.max("doc_id").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .select("a", "b")
    )
    edges = lsh_pairs.unionAll(exact_pairs)
    nodes = d.select(F.col("doc_id").alias("id"))
    comp = connected_components(nodes, edges)
    return comp.select(
        F.col("component").alias("cluster_id"),
        F.col("id").alias("doc_id"),
        (F.col("component") == F.col("id")).alias("is_keeper"),
    ).orderBy("cluster_id", "doc_id")


@register(
    "dedup_decontaminate",
    oracle=f"""
    WITH sig AS ({_MINHASH_SQL}),
    bench AS (SELECT DISTINCT h, minhash FROM sig WHERE doc_id < 25),
    train AS (SELECT doc_id, h, minhash FROM sig WHERE doc_id >= 25),
    hits AS (
        SELECT t.doc_id, COUNT(DISTINCT t.h) AS matching_hashes
        FROM train t JOIN bench b ON t.h = b.h AND t.minhash = b.minhash
        GROUP BY t.doc_id
    )
    SELECT d.doc_id,
           COALESCE(h.matching_hashes, 0) AS matching_hashes,
           (COALESCE(h.matching_hashes, 0) >= 6) AS contaminated
    FROM (SELECT doc_id FROM documents WHERE doc_id >= 25) d
    LEFT JOIN hits h ON h.doc_id = d.doc_id
    ORDER BY d.doc_id
    """,
)
def dedup_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents whose minhash
    signature nearly matches any document in a holdout/benchmark set
    (here doc_id < 25 plays the benchmark) — the eval-leakage gate
    every LLM data pipeline needs. The signature join touches only
    (h, minhash) bucket collisions, never doc x doc; at 100 TB the
    benchmark side is tiny and broadcasts."""
    d = load_table(spark, sf_dir, "documents")
    # Materialize the signature table once — both the benchmark pool and
    # the train side read it, and their join shapes share no exchange
    # (the bench side broadcasts), so the md5 pipeline would run twice.
    sig = minhash_signatures(d).transform(materialize)
    # Dedup the benchmark signature pool and count DISTINCT hash
    # positions per train doc: a doc can match at most 8 of 8, so the
    # threshold means what it says even when several benchmark docs
    # share signature values.
    bench = (
        sig.filter(F.col("doc_id") < 25)
        .select("h", F.col("minhash").alias("b_minhash"))
        .distinct()
    )
    train = sig.filter(F.col("doc_id") >= 25)
    hits = (
        train.join(
            F.broadcast(bench),
            (train.h == bench.h) & (F.col("minhash") == F.col("b_minhash")),
        )
        .groupBy("doc_id")
        .agg(F.countDistinct(train.h).alias("matching_hashes"))
    )
    return (
        d.filter(F.col("doc_id") >= 25)
        .select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("matching_hashes", F.lit(0)).alias("matching_hashes"),
            (F.coalesce("matching_hashes", F.lit(0)) >= 6).alias("contaminated"),
        )
        .orderBy("doc_id")
    )


@register(
    "dedup_keep_best_quality",
    oracle=f"""
    WITH RECURSIVE
    lsh AS (
        SELECT DISTINCT a.doc_id AS a, c.doc_id AS b
        FROM ({_BANDS_SQL}) a JOIN ({_BANDS_SQL}) c
          ON a.band = c.band AND a.bsig = c.bsig AND a.doc_id < c.doc_id
    ),
    ex AS (
        SELECT MIN(doc_id) AS a, MAX(doc_id) AS b
        FROM documents GROUP BY md5(text) HAVING MIN(doc_id) <> MAX(doc_id)
    ),
    edges AS (
        SELECT a, b FROM lsh UNION SELECT b, a FROM lsh
        UNION SELECT a, b FROM ex UNION SELECT b, a FROM ex
    ),
    walk(id, comp) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.b, w.comp FROM walk w JOIN edges e ON e.a = w.id
    ),
    comp AS (
        SELECT CAST(MIN(comp) AS BIGINT) AS cluster_id,
               CAST(id AS BIGINT) AS doc_id
        FROM walk GROUP BY id
    ),
    scored AS (
        SELECT c.cluster_id, c.doc_id,
               CAST(len(string_split_regex(trim(d.text), '\\s+')) AS BIGINT)
                   AS quality
        FROM comp c JOIN documents d USING (doc_id)
    )
    SELECT cluster_id, doc_id, quality,
           (ROW_NUMBER() OVER (PARTITION BY cluster_id
                               ORDER BY quality DESC, doc_id) = 1)
               AS is_keeper
    FROM scored ORDER BY cluster_id, doc_id
    """,
)
def dedup_keep_best_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware near-dup survivorship (the FineWeb/RefinedWeb
    refinement of keep-min): within each near-dup cluster (LSH ∪
    exact-hash components, the dedup_clusters graph) keep the
    HIGHEST-QUALITY member, not the smallest id — here quality is the
    integer word count (deterministic and integer-exact cross-engine;
    in production any scalar quality column — a Gopher gate score, a
    classifier logit quantized to micro-units — drops in unchanged),
    ties broken by min doc_id so the choice is total.

    Scale: the component loop is dedup_clusters' checkpointed
    min-label propagation (rounds ~ diameter, band-bounded degree);
    keeper election adds ONE cluster-keyed window over (quality desc,
    doc_id) — clusters are near-dup sets, so partitions are tiny by
    construction and the window never sees a skewed partition bigger
    than the largest duplicate family (clone families collapse to one
    representative upstream in the ER path; here they are exactly the
    sets the operator exists to prune)."""
    d = load_table(spark, sf_dir, "documents")
    lsh_pairs = lsh_candidate_pairs(d).select(
        F.col("doc_a").alias("a"), F.col("doc_b").alias("b")
    )
    exact_pairs = (
        d.groupBy(F.md5("text").alias("h"))
        .agg(F.min("doc_id").alias("a"), F.max("doc_id").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .select("a", "b")
    )
    edges = lsh_pairs.unionAll(exact_pairs)
    nodes = d.select(F.col("doc_id").alias("id"))
    comp = connected_components(nodes, edges).select(
        F.col("component").alias("cluster_id"), F.col("id").alias("doc_id")
    )
    scored = comp.join(
        d.select(
            "doc_id",
            F.size(words_col(F.col("text"))).cast("long").alias("quality"),
        ),
        "doc_id",
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("quality").desc(), F.col("doc_id")
    )
    return (
        scored.select(
            "cluster_id",
            "doc_id",
            "quality",
            (F.row_number().over(w) == 1).alias("is_keeper"),
        )
        .orderBy("cluster_id", "doc_id")
    )


# Exact n-gram decontamination width. 4 words discriminates on the
# fixture corpus (43/475 train docs share a 4-gram with the benchmark
# pool at sf0.01; 3-gram flags 85%, 5-gram flags ~1%).
DECONTAM_NGRAM = 4

_DECONTAM_NGRAMS_SQL = f"""
    SELECT doc_id,
           array_to_string(words[pos:pos + {DECONTAM_NGRAM - 1}], ' ') AS g
    FROM (
        SELECT doc_id, words,
               unnest(range(1, greatest(len(words) - {DECONTAM_NGRAM - 1}, 1) + 1)) AS pos
        FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS words
              FROM documents)
    )
"""


def _word_ngrams(docs: DataFrame, width: int) -> DataFrame:
    """(doc_id, g): word ``width``-grams; docs shorter than the width
    contribute their full text as one gram (same edge rule as
    :func:`shingles`)."""
    w = words_col(F.col("text"))
    n_g = F.greatest(F.size(w) - (width - 1), F.lit(1))
    return (
        docs.select("doc_id", w.alias("words"), n_g.alias("n_g"))
        .select(
            "doc_id",
            F.explode(F.sequence(F.lit(1), F.col("n_g"))).alias("pos"),
            "words",
        )
        .select(
            "doc_id",
            F.concat_ws(" ", F.slice(F.col("words"), F.col("pos"), width)).alias("g"),
        )
    )


@register(
    "dedup_decontaminate_ngram",
    oracle=f"""
    WITH ng AS ({_DECONTAM_NGRAMS_SQL}),
    bench AS (SELECT DISTINCT g FROM ng WHERE doc_id < 25),
    train AS (SELECT DISTINCT doc_id, g FROM ng WHERE doc_id >= 25),
    sizes AS (SELECT doc_id, COUNT(*) AS n_ngrams FROM train GROUP BY doc_id),
    hits AS (
        SELECT t.doc_id, COUNT(*) AS n_hit_ngrams
        FROM train t JOIN bench b USING (g)
        GROUP BY t.doc_id
    )
    SELECT s.doc_id,
           COALESCE(h.n_hit_ngrams, 0) AS n_hit_ngrams,
           s.n_ngrams,
           round(CAST(COALESCE(h.n_hit_ngrams, 0) AS DOUBLE)
                 / CAST(s.n_ngrams AS DOUBLE), 8) AS contaminated_frac,
           (COALESCE(h.n_hit_ngrams, 0) >= 1) AS contaminated
    FROM sizes s LEFT JOIN hits h ON h.doc_id = s.doc_id
    ORDER BY s.doc_id
    """,
)
def dedup_decontaminate_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram benchmark decontamination — the GPT-3/PaLM-style
    leakage gate: a training document is contaminated if ANY of its
    word 4-grams appears verbatim in the benchmark pool (doc_id < 25
    plays the held-out benchmark, same convention as
    dedup_decontaminate's minhash variant).

    Complements dedup_decontaminate: minhash catches whole-document
    near-duplicates; the exact n-gram test catches verbatim *passage*
    leakage that a document-level signature dilutes away.

    Scale: the benchmark n-gram set is tiny relative to the corpus and
    broadcasts — the train side streams through one hash join keyed on
    the gram, never doc x doc; per-doc counts are one groupBy on
    doc_id. At 100 TB the only large shuffle is the train-side
    DISTINCT (doc_id, gram), proportional to corpus token count.
    """
    d = load_table(spark, sf_dir, "documents")
    ng = _word_ngrams(d, DECONTAM_NGRAM)
    bench = ng.filter(F.col("doc_id") < 25).select("g").distinct()
    train = ng.filter(F.col("doc_id") >= 25).distinct().transform(materialize)
    sizes = train.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_ngrams"))
    hits = (
        train.join(F.broadcast(bench), "g")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hit_ngrams"))
    )
    n_hit = F.coalesce("n_hit_ngrams", F.lit(0))
    return (
        sizes.join(hits, "doc_id", "left")
        .select(
            "doc_id",
            n_hit.alias("n_hit_ngrams"),
            "n_ngrams",
            F.round(
                n_hit.cast("double") / F.col("n_ngrams").cast("double"), 8
            ).alias("contaminated_frac"),
            (n_hit >= 1).alias("contaminated"),
        )
        .orderBy("doc_id")
    )


@register(
    "data_mixing_plan",
    oracle="""
    WITH stats AS (
        SELECT source,
               CAST(SUM(len(string_split_regex(trim(text), '\\s+'))) AS BIGINT) AS tokens
        FROM documents GROUP BY source
    ),
    weighted AS (
        SELECT source, tokens,
               CASE WHEN source IN ('src0','src1','src2') THEN 3.0 ELSE 1.0 END AS weight
        FROM stats
    )
    SELECT source, tokens, weight,
           round(weight * tokens / (SELECT CAST(SUM(CAST(weight * tokens AS DECIMAL(27,6)))
                                                AS DOUBLE) FROM weighted), 8)
               AS mix_fraction,
           CAST(floor(weight * tokens
                / (SELECT CAST(SUM(CAST(weight * tokens AS DECIMAL(27,6))) AS DOUBLE)
                   FROM weighted) * 1000000) AS BIGINT) AS tokens_at_1m
    FROM weighted
    ORDER BY source
    """,
)
def data_mixing_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset mixture planning: per-source token counts x upsampling
    weights -> normalized mixture fractions and per-source token quotas
    for a target budget (1M here) — the mixture table a pretraining
    run consumes. One aggregation per source plus a broadcast scalar."""
    d = load_table(spark, sf_dir, "documents")
    tokens = F.size(F.split(F.trim("text"), r"\s+")).cast("long")
    stats = d.groupBy("source").agg(F.sum(tokens).alias("tokens"))
    weighted = stats.withColumn(
        "weight",
        F.when(F.col("source").isin("src0", "src1", "src2"), 3.0).otherwise(1.0),
    )
    total = weighted.agg(
        F.sum((F.col("weight") * F.col("tokens")).cast("decimal(27,6)"))
        .cast("double")
        .alias("_t")
    )
    frac = F.col("weight") * F.col("tokens") / F.col("_t")
    return (
        weighted.crossJoin(F.broadcast(total))
        .select(
            "source",
            "tokens",
            "weight",
            F.round(frac, 8).alias("mix_fraction"),
            F.floor(frac * 1_000_000).cast("long").alias("tokens_at_1m"),
        )
        .orderBy("source")
    )


@register(
    "data_mixing_temperature",
    oracle="""
    WITH s AS (
        SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source
    ),
    t AS (
        SELECT SUM(n_docs) AS n, SUM(sqrt(n_docs)) AS sq FROM s
    )
    SELECT source,
           CAST(n_docs AS BIGINT) AS n_docs,
           round(n_docs / t.n, 8) AS share,
           round(sqrt(n_docs) / t.sq, 8) AS temp_share,
           round((sqrt(n_docs) / t.sq) / (n_docs / t.n), 6) AS upsample
    FROM s, t ORDER BY source
    """,
)
def data_mixing_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source mixing (the multilingual-pretraining
    standard: sample source s with probability ∝ p_s^(1/T); here
    T = 2, i.e. sqrt-weighting — mBERT/XLM-R's alpha = 0.5): per
    source, the natural share, the temperature share, and the implied
    up/down-sampling factor the data loader applies. sqrt instead of
    a general pow keeps the transform IEEE-exact in BOTH engines
    (libm pow can drift in the last ulp across implementations; sqrt
    is correctly rounded everywhere). One tiny groupBy plus a
    broadcast scalar — at 100 TB this is a metadata query over the
    source census, never a corpus pass."""
    d = load_table(spark, sf_dir, "documents")
    s = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    t = s.agg(
        F.sum("n_docs").alias("n"),
        F.sum(F.sqrt(F.col("n_docs"))).alias("sq"),
    )
    share = F.col("n_docs") / F.col("n")
    temp_share = F.sqrt(F.col("n_docs")) / F.col("sq")
    return (
        s.crossJoin(F.broadcast(t))
        .select(
            "source",
            F.col("n_docs").cast("long").alias("n_docs"),
            F.round(share, 8).alias("share"),
            F.round(temp_share, 8).alias("temp_share"),
            F.round(temp_share / share, 6).alias("upsample"),
        )
        .orderBy("source")
    )


@register(
    "dedup_simhash",
    oracle=f"""
    WITH tok AS (
        SELECT DISTINCT doc_id, w
        FROM (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS w
              FROM documents)
    ),
    bits AS (
        SELECT doc_id, b,
               SUM(CASE WHEN (CAST(('0x' || substr(md5(w), 1, 8)) AS BIGINT) // (1 << b)) % 2 = 1
                        THEN 1 ELSE -1 END) AS s
        FROM tok, range(0, 32) r(b)
        GROUP BY doc_id, b
    )
    SELECT doc_id,
           CAST(SUM(CASE WHEN s > 0 THEN (1 << b) ELSE 0 END) AS BIGINT) AS simhash32
    FROM bits GROUP BY doc_id ORDER BY doc_id
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash-32 per document: each distinct token votes +-1 on every
    bit of its 32-bit hash (md5-derived); the signature sets bits with
    positive vote sums. Near-dups then differ in few bits (Hamming) —
    the pairwise stage is a bucketed join on signature prefixes."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(words_col(F.col("text"))).alias("w")
    ).distinct()
    h32 = F.conv(F.substring(F.md5("w"), 1, 8), 16, 10).cast("long")
    bits = (
        tok.select(
            "doc_id",
            F.explode(F.sequence(F.lit(0), F.lit(31))).alias("b"),
            h32.alias("hv"),
        )
        .withColumn("bit", F.expr("(hv div shiftleft(CAST(1 AS BIGINT), b)) % 2"))
        .groupBy("doc_id", "b")
        .agg(F.sum(F.when(F.col("bit") == 1, 1).otherwise(-1)).alias("s"))
    )
    return (
        bits.groupBy("doc_id")
        .agg(
            F.sum(
                F.when(F.col("s") > 0, F.expr("shiftleft(CAST(1 AS BIGINT), b)")).otherwise(0)
            ).alias("simhash32")
        )
        .orderBy("doc_id")
    )


DEDUP_COS_TAU = 0.35  # near-dup cosine threshold for the fixture embeddings
DEDUP_IVF_CELL = 128  # target IVF cell population (bounds candidate pairs/vector)
DEDUP_IVF_MIN_NLIST = 16
DEDUP_IMI_SALT = 8    # sub-splits per router group (cogroup parallelism + memory cap)
_H32_SPAN = 4294967296  # 2^32 — domain of the md5-prefix uniform draw


@register(
    "dedup_embedding_cosine",
    oracle=f"""
    WITH e AS (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
               md5(CAST(vec_id AS VARCHAR)) AS h,
               CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8)) AS BIGINT)
                   AS h32
        FROM embeddings
    ),
    nr AS (
        SELECT COUNT(*) AS n,
               GREATEST({DEDUP_IVF_MIN_NLIST},
                        (COUNT(*) + {DEDUP_IVF_CELL - 1}) // {DEDUP_IVF_CELL})
                   AS nlist,
               GREATEST(4, CAST(ceil(sqrt(CAST(
                   GREATEST({DEDUP_IVF_MIN_NLIST},
                            (COUNT(*) + {DEDUP_IVF_CELL - 1}) // {DEDUP_IVF_CELL})
                   AS DOUBLE))) AS BIGINT)) AS nrouter
        FROM e
    ),
    seeds AS (
        SELECT e.h AS cid, e.v AS cv, e.vec_id
        FROM e, nr
        WHERE e.h32 < (nr.nlist * {_H32_SPAN}) // nr.n
    ),
    routers AS (
        SELECT cid AS rid, cv AS rv FROM (
            SELECT cid, cv, ROW_NUMBER() OVER (ORDER BY cid, vec_id) AS rk
            FROM seeds
        ), nr WHERE rk <= nr.nrouter
    ),
    child1 AS (
        SELECT cid, cv, rid FROM (
            SELECT s.cid, s.cv, r.rid,
                   ROW_NUMBER() OVER (PARTITION BY s.cid
                       ORDER BY round(list_cosine_similarity(s.cv, r.rv), 4) DESC,
                                r.rid) AS rk
            FROM seeds s CROSS JOIN routers r
        ) WHERE rk = 1
    ),
    route1 AS (
        SELECT vec_id, rid FROM (
            SELECT e.vec_id, r.rid,
                   ROW_NUMBER() OVER (PARTITION BY e.vec_id
                       ORDER BY round(list_cosine_similarity(e.v, r.rv), 4) DESC,
                                r.rid) AS rk
            FROM e CROSS JOIN (SELECT DISTINCT r.rid, r.rv
                               FROM routers r JOIN child1 c USING (rid)) r
        ) WHERE rk = 1
    ),
    a1 AS (
        SELECT vec_id, cid FROM (
            SELECT e.vec_id, c.cid,
                   ROW_NUMBER() OVER (PARTITION BY e.vec_id
                       ORDER BY round(list_cosine_similarity(e.v, c.cv), 4) DESC,
                                c.cid) AS rk
            FROM e JOIN route1 USING (vec_id) JOIN child1 c USING (rid)
        ) WHERE rk = 1
    ),
    mic AS (
        SELECT a1.cid, ed.i AS d,
               CAST(floor(ed.v[ed.i] * 1000000.0) AS BIGINT) AS xm
        FROM (SELECT vec_id, v, unnest(range(1, len(v) + 1)) AS i FROM e) ed
        JOIN a1 USING (vec_id)
    ),
    cm AS (
        SELECT cid, d,
               CASE WHEN SUM(xm) < 0 THEN -1 ELSE 1 END
                 * ((2 * ABS(SUM(xm)) + COUNT(*)) // (2 * COUNT(*))) AS mm
        FROM mic GROUP BY cid, d
    ),
    cent AS (
        SELECT cid, list(CAST(mm AS DOUBLE) / 1000000.0 ORDER BY d) AS cv
        FROM cm GROUP BY cid
    ),
    child2 AS (
        SELECT cid, cv, rid FROM (
            SELECT c.cid, c.cv, r.rid,
                   ROW_NUMBER() OVER (PARTITION BY c.cid
                       ORDER BY round(list_cosine_similarity(c.cv, r.rv), 4) DESC,
                                r.rid) AS rk
            FROM cent c CROSS JOIN routers r
        ) WHERE rk = 1
    ),
    route2 AS (
        SELECT vec_id, rid FROM (
            SELECT e.vec_id, r.rid,
                   ROW_NUMBER() OVER (PARTITION BY e.vec_id
                       ORDER BY round(list_cosine_similarity(e.v, r.rv), 4) DESC,
                                r.rid) AS rk
            FROM e CROSS JOIN (SELECT DISTINCT r.rid, r.rv
                               FROM routers r JOIN child2 c USING (rid)) r
        ) WHERE rk = 1
    ),
    sig AS (
        SELECT vec_id, cid AS bucket FROM (
            SELECT e.vec_id, c.cid,
                   ROW_NUMBER() OVER (PARTITION BY e.vec_id
                       ORDER BY round(list_cosine_similarity(e.v, c.cv), 4) DESC,
                                c.cid) AS rk
            FROM e JOIN route2 USING (vec_id) JOIN child2 c USING (rid)
        ) WHERE rk = 1
    ),
    eb AS (
        SELECT e.vec_id, e.label, e.v, s.bucket
        FROM e JOIN sig s ON e.vec_id = s.vec_id
    ),
    dropped AS (
        SELECT DISTINCT b.vec_id, b.label
        FROM eb a JOIN eb b
          ON a.label = b.label AND a.bucket = b.bucket AND a.vec_id < b.vec_id
        WHERE round(list_cosine_similarity(a.v, b.v), 6) >= {DEDUP_COS_TAU}
    )
    SELECT e.label, COUNT(*) AS n_total,
           COUNT(d.vec_id) AS n_dropped,
           COUNT(*) - COUNT(d.vec_id) AS n_kept,
           CAST(COALESCE(SUM(d.vec_id), 0) AS BIGINT) AS dropped_id_sum
    FROM e LEFT JOIN dropped d ON e.vec_id = d.vec_id
    GROUP BY e.label ORDER BY e.label
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup removal (semantic dedup): within each
    (label, IVF-cell) block, a vector is dropped if any LOWER-id
    block-mate has cosine >= tau — the deterministic keep-first-by-id
    rule, the greedy pass of SemDeDup-style pipelines. Never all-pairs
    within a label; norms are computed once per vector before the
    pair stage. Returns the per-label census + dropped-id checksum.

    The BLOCKER is a two-level (IMI-style) IVF coarse quantizer
    (round-13; replaces round-12's flat assignment whose n*nlist
    cosine matmul — with nlist = ceil(n/128) tracking the corpus —
    was an O(n^2/128) interior, and whose codebook collect put
    O(n/128) rows on the driver):

    1. Seeds: vectors whose 32-bit md5 prefix falls under the
       integer threshold (nlist * 2^32) div n — a uniform draw from
       the DATA distribution (~nlist = max(16, ceil(n/128)) seeds in
       expectation; cells track density). NO global sort, NO top-k,
       NO driver materialization of the seed set: the predicate is a
       plain filter both engines evaluate identically in integer
       arithmetic (bigint-safe to nlist*2^32 < 2^63, i.e. n ~ 2.7e14
       vectors).
    2. Router: the nrouter = max(4, ceil(sqrt(nlist))) smallest seeds
       by (md5, vec_id) — the only codebook piece the driver holds,
       O(sqrt n) rows (28k at n=1e11). Every seed is assigned to its
       best router cell (4dp-rounded cosine, min-rid tiebreak) —
       that mapping IS the child table; a router whose seeds were all
       captured by a duplicate-vector twin simply has no children and
       is excluded from vector routing (both engines: routers joined
       to the child table).
    3. Vector assignment is TWO cheap stages instead of one n*nlist
       matmul: route each vector to its best non-empty router
       (n * sqrt(nlist) cosines, router panel in the task closure),
       then cogroup vectors with ONLY that router's child centroids
       (grouped applyInPandas keyed on (rid, salt); children
       duplicated per salt so a hot router splits across
       DEDUP_IMI_SALT tasks) — total work O(n * sqrt(nlist)), and the
       nlist-row codebook stays a DataFrame joined by the shuffle,
       never a driver collect.
    4. One Lloyd step, exactly as sim_ivf_train_step: per-cell
       per-dim means in EXACT integer micro-units via the guarded
       half-away-from-zero identity — bit-identical in both engines,
       so the oracle re-derives the refined codebook exactly; cells
       that lose all members vanish in both engines. The refined
       centroids re-route through the SAME router panel (child2) and
       the final block key is (label, cell md5-id).

    All assignment cosines round to 4dp (the PAIR-stage cosine stays
    the 6dp JVM fold, unchanged): BLAS accumulation order differs
    from DuckDB's sequential fold by ~1e-14, the coarse grid makes a
    boundary straddle measure-zero, and np.argmax's first-max rule
    over cid-ascending columns IS the oracle's ROW_NUMBER(ORDER BY
    sim DESC, cid) min-cid tiebreak (cell ids are md5 strings —
    identical ASCII ordering in both engines). Driver state is now
    bounded at O(sqrt n): the router panel plus two non-empty-router
    id lists; the O(n/128)-row codebook collect that SCALING.md named
    as the 100 TB bottleneck is gone. Remaining next rung (documented
    in SCALING.md): a cogroup group holds one (router, salt) slice
    ~ sqrt(128 n)/SALT vectors in one Arrow frame — raise
    DEDUP_IMI_SALT (children duplicate per salt, a tiny table) or add
    a third router level when that slice outgrows executor memory.
    """
    import math

    import numpy as np

    from gpu_database_spark.llm.similarity import dot, l2_norm

    e = load_table(spark, sf_dir, "embeddings")
    h = F.md5(F.col("vec_id").cast("string"))
    e2 = e.select(
        "vec_id",
        "label",
        "embedding",
        h.alias("h"),
        F.conv(F.substring(h, 1, 8), 16, 10).cast("long").alias("h32"),
    )
    n = e.count()
    nlist = max(DEDUP_IVF_MIN_NLIST, (n + DEDUP_IVF_CELL - 1) // DEDUP_IVF_CELL)
    nrouter = max(4, math.ceil(math.sqrt(float(nlist))))
    t_seed = (nlist * _H32_SPAN) // n

    seeds = e2.filter(F.col("h32") < F.lit(t_seed)).select(
        F.col("h").alias("cid"),
        F.col("embedding").cast("array<double>").alias("cv"),
        "vec_id",
    )
    # The ONLY driver-held codebook piece: the O(sqrt n) router panel.
    router_rows = seeds.orderBy("cid", "vec_id").limit(nrouter).collect()
    router_rows.sort(key=lambda r: r.cid)
    if not router_rows:
        # Measure-zero draw (P(no seed) ~ e^-16): the oracle's empty-seed
        # cascade yields an all-kept census; mirror it exactly.
        return (
            e.groupBy("label")
            .agg(
                F.count(F.lit(1)).alias("n_total"),
                F.lit(0).cast("long").alias("n_dropped"),
                F.count(F.lit(1)).alias("n_kept"),
                F.lit(0).cast("long").alias("dropped_id_sum"),
            )
            .orderBy("label")
        )
    all_rids = [r.cid for r in router_rows]
    all_rvecs = [list(r.cv) for r in router_rows]

    def _route(
        df: DataFrame, vec_col: str, schema: str,
        rids: list[str], rvecs: list[list[float]],
    ) -> DataFrame:
        """Append best-router ``rid``: one numpy matmul per Arrow batch
        against the closure-held router panel (rid-ascending columns, so
        first-max == the oracle's min-rid tiebreak on 4dp ties)."""
        rmat = np.asarray(rvecs, dtype=np.float64).T  # (d, r)
        rnorm = np.sqrt((rmat * rmat).sum(axis=0))
        rid_arr = np.asarray(rids, dtype=object)

        def route_batches(batches):
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                x = np.array(pdf[vec_col].tolist(), dtype=np.float64)
                sims = (x @ rmat) / (
                    np.sqrt((x * x).sum(axis=1))[:, None] * rnorm[None, :]
                )
                pdf = pdf.copy()
                pdf["rid"] = rid_arr[np.argmax(np.round(sims, 4), axis=1)]
                yield pdf

        return df.mapInPandas(route_batches, schema=schema)

    def _nonempty(rids_present: list[str]):
        keep = set(rids_present)
        pairs = [(r, v) for r, v in zip(all_rids, all_rvecs) if r in keep]
        return [r for r, _ in pairs], [v for _, v in pairs]

    def _cell_assign(routed: DataFrame, children: DataFrame) -> DataFrame:
        """IMI second stage: each (router, salt) cogroup matmuls its
        vectors against ONLY that router's child centroids (argmax of the
        4dp-rounded cosine, first-max over cid-ascending == min-cid).
        Children duplicate per salt (tiny table) so a hot router splits
        across DEDUP_IMI_SALT tasks and the per-group Arrow frame stays
        ~ sqrt(128 n)/SALT rows."""
        salted = routed.withColumn(
            "salt", F.pmod(F.xxhash64("vec_id"), F.lit(DEDUP_IMI_SALT))
        )
        kids = children.withColumn(
            "salt", F.explode(F.sequence(F.lit(0), F.lit(DEDUP_IMI_SALT - 1)))
        ).withColumn("salt", F.col("salt").cast("long"))
        out_schema = "vec_id bigint, label int, embedding array<float>, bucket string"

        def assign(left, right):
            import pandas as pd

            if len(left) == 0 or len(right) == 0:
                return pd.DataFrame(
                    {"vec_id": [], "label": [], "embedding": [], "bucket": []}
                )
            right = right.sort_values("cid")
            cmat = np.array(right["cv"].tolist(), dtype=np.float64).T
            cnorm = np.sqrt((cmat * cmat).sum(axis=0))
            cids = right["cid"].to_numpy()
            x = np.array(left["embedding"].tolist(), dtype=np.float64)
            sims = (x @ cmat) / (
                np.sqrt((x * x).sum(axis=1))[:, None] * cnorm[None, :]
            )
            out = left[["vec_id", "label", "embedding"]].copy()
            out["bucket"] = cids[np.argmax(np.round(sims, 4), axis=1)]
            return out

        return (
            salted.groupBy("rid", "salt")
            .cogroup(kids.groupBy("rid", "salt"))
            .applyInPandas(assign, schema=out_schema)
        )

    child_schema = "cid string, cv array<double>, rid string"
    # Codebook as a TABLE: materialized once, joined by the cogroup
    # shuffle — never collected to the driver.
    child1 = materialize(
        _route(seeds.select("cid", "cv"), "cv", child_schema, all_rids, all_rvecs)
    )
    ne1 = sorted({r.rid for r in child1.select("rid").distinct().collect()})

    # repartition: fixture parallelism plumbing only — the (often
    # single-file) scan must spread across cores before the matmul
    # passes; at 100 TB the scan already yields thousands of splits
    # and this hash shuffle would be dropped.
    base = e.select("vec_id", "label", "embedding").repartition("vec_id")
    routed_schema = "vec_id bigint, label int, embedding array<float>, rid string"

    r1_ids, r1_vecs = _nonempty(ne1)
    a1 = _cell_assign(
        _route(base, "embedding", routed_schema, r1_ids, r1_vecs),
        child1.select("cid", "cv", "rid"),
    )

    # --- one Lloyd step: integer-micro-unit per-cell means, kept as a
    # DataFrame end-to-end (exact in both engines) ---
    mm = F.expr(
        "CASE WHEN SUM(xm) < 0 THEN -1 ELSE 1 END"
        " * ((2 * ABS(SUM(xm)) + COUNT(*)) div (2 * COUNT(*)))"
    )
    cent = (
        a1.select(
            "bucket",
            F.posexplode(F.col("embedding").cast("array<double>")).alias("d", "x"),
        )
        .select(
            "bucket", "d", F.floor(F.col("x") * 1000000.0).cast("long").alias("xm")
        )
        .groupBy("bucket", "d")
        .agg(mm.alias("mm"))
        .groupBy("bucket")
        .agg(F.array_sort(F.collect_list(F.struct("d", "mm"))).alias("s"))
        .select(
            F.col("bucket").alias("cid"),
            F.expr("transform(s, p -> CAST(p.mm AS DOUBLE) / 1000000.0)").alias("cv"),
        )
    )
    child2 = materialize(_route(cent, "cv", child_schema, all_rids, all_rvecs))
    ne2 = sorted({r.rid for r in child2.select("rid").distinct().collect()})
    r2_ids, r2_vecs = _nonempty(ne2)
    assigned = _cell_assign(
        _route(base, "embedding", routed_schema, r2_ids, r2_vecs),
        child2.select("cid", "cv", "rid"),
    )

    normed = assigned.withColumn("nrm", l2_norm(F.col("embedding")))
    # Materialized once: AQE broadcasts one pair-join side, so without
    # this the per-vector norm/bucket projection computes twice.
    blocked = normed.repartition("label", "bucket").transform(materialize)
    a = blocked.select(
        F.col("vec_id").alias("va"), "label", "bucket",
        F.col("embedding").alias("ea"), F.col("nrm").alias("na"),
    )
    b = blocked.select(
        F.col("vec_id").alias("vb"), F.col("label").alias("label_b"),
        F.col("bucket").alias("bucket_b"),
        F.col("embedding").alias("eb"), F.col("nrm").alias("nb"),
    )
    sim = F.round(dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb")), 6)
    dropped = (
        a.join(
            b,
            (F.col("label") == F.col("label_b"))
            & (F.col("bucket") == F.col("bucket_b"))
            & (F.col("va") < F.col("vb")),
        )
        .filter(sim >= DEDUP_COS_TAU)
        .select(F.col("vb").alias("vec_id"))
        .distinct()
        .withColumn("is_dropped", F.lit(1))
    )
    return (
        e.select("vec_id", "label")
        .join(dropped, "vec_id", "left")
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.count("is_dropped").alias("n_dropped"),
            (F.count(F.lit(1)) - F.count("is_dropped")).alias("n_kept"),
            F.coalesce(
                F.sum(F.when(F.col("is_dropped") == 1, F.col("vec_id"))), F.lit(0)
            )
            .cast("long")
            .alias("dropped_id_sum"),
        )
        .orderBy("label")
    )



SPAN_WORDS = 8  # exact-substring span width (word 8-grams)


@register(
    "dedup_ngram_spans",
    oracle=f"""
    WITH sp AS (
        SELECT DISTINCT doc_id,
               array_to_string(words[pos:pos + {SPAN_WORDS - 1}], ' ') AS span
        FROM (
            SELECT doc_id, words,
                   unnest(range(1, greatest(len(words) - {SPAN_WORDS - 1}, 1) + 1)) AS pos
            FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS words
                  FROM documents)
        )
    ),
    sd AS (SELECT span, COUNT(*) AS n_docs_span FROM sp GROUP BY span)
    SELECT s.doc_id,
           COUNT(*) AS n_spans,
           CAST(SUM(CASE WHEN d.n_docs_span >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_spans,
           CAST((2 * SUM(CASE WHEN d.n_docs_span >= 2 THEN 1 ELSE 0 END)
                     * 1000000 + COUNT(*)) // (2 * COUNT(*))
                AS DOUBLE) / 1000000.0 AS dup_ratio
    FROM sp s JOIN sd d USING (span)
    GROUP BY s.doc_id
    HAVING SUM(CASE WHEN d.n_docs_span >= 2 THEN 1 ELSE 0 END) > 0
    ORDER BY doc_id
    """,
)
def dedup_ngram_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact repeated-substring detection: word 8-gram spans occurring
    in >= 2 distinct documents, reported per document as a duplicated-
    span ratio — the groupBy-friendly relative of suffix-array exact
    substring dedup (the third member of the exact / MinHash-approx /
    semantic dedup triad; a high dup_ratio doc is boilerplate or a
    partial copy even when whole-doc hashes and minhash bands miss it).

    Scale shape: spans explode to ~1 row per corpus word, but the only
    shuffles are groupBy(span) — key is the span string; at 100 TB
    you'd group on md5(span) to fix key width — and groupBy(doc_id)
    for the census. No pairwise joins anywhere: cross-document overlap
    is discovered by the span group cardinality, which is why this
    scales where suffix arrays need specialized machinery."""
    d = load_table(spark, sf_dir, "documents")
    w = words_col(F.col("text"))
    n_sp = F.greatest(F.size(w) - (SPAN_WORDS - 1), F.lit(1))
    sp = (
        d.select("doc_id", w.alias("words"), n_sp.alias("n_sp"))
        .select(
            "doc_id",
            F.explode(F.sequence(F.lit(1), F.col("n_sp"))).alias("pos"),
            "words",
        )
        .select(
            "doc_id",
            F.concat_ws(" ", F.slice(F.col("words"), F.col("pos"), SPAN_WORDS)).alias(
                "span"
            ),
        )
        .distinct()
        # Materialized once: the span table feeds both the span-count
        # agg and the join-back, which share no exchange — without this
        # the word explode runs twice.
        .transform(materialize)
    )
    span_docs = sp.groupBy("span").agg(F.count(F.lit(1)).alias("n_docs_span"))
    dup = F.sum(F.when(F.col("n_docs_span") >= 2, 1).otherwise(0))
    return (
        sp.join(span_docs, "span")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            dup.cast("long").alias("n_dup_spans"),
            # integer (2u+c) div (2c) rounding: small-integer-count
            # ratios (e.g. k/128) land exactly on 6dp half-boundaries
            # where the engines' round() semantics disagree
            (
                F.expr(
                    "(2 * CAST(SUM(CASE WHEN n_docs_span >= 2 THEN 1"
                    " ELSE 0 END) AS DECIMAL(38,0)) * 1000000 + COUNT(*))"
                    " div (2 * COUNT(*))"
                ).cast("double")
                / 1000000.0
            ).alias("dup_ratio"),
        )
        .filter(F.col("n_dup_spans") > 0)
        .orderBy("doc_id")
    )


KNN_K = 3  # neighbors kept per doc in the similarity graph


@register(
    "text_knn_graph",
    oracle=f"""
    WITH sig AS ({_MINHASH_SQL}),
    bands AS ({_BANDS_SQL}),
    pairs AS (
        SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
        FROM bands a JOIN bands c
          ON a.band = c.band AND a.bsig = c.bsig AND a.doc_id < c.doc_id
    ),
    sym AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL
        SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    m AS (
        SELECT s.src, s.dst, COUNT(*) AS n_match
        FROM sym s
        JOIN sig a ON a.doc_id = s.src
        JOIN sig b ON b.doc_id = s.dst AND b.h = a.h AND b.minhash = a.minhash
        GROUP BY s.src, s.dst
    ),
    ranked AS (
        SELECT src, dst, n_match,
               ROW_NUMBER() OVER (PARTITION BY src
                                  ORDER BY n_match DESC, dst) AS rk
        FROM m
    )
    SELECT src AS doc_id, dst AS neighbor_id,
           round(n_match / {N_HASHES}.0, 6) AS est_jaccard,
           CAST(rk AS BIGINT) AS rk
    FROM ranked WHERE rk <= {KNN_K}
    ORDER BY doc_id, rk
    """,
)
def text_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN document-similarity graph from minhash agreement: for each
    doc, its top-KNN_K (=5) LSH candidates ranked by estimated Jaccard
    (matching minhash positions / N_HASHES=8) — the input graph
    SemDeDup-style clustering, duplicate-family mining and curriculum
    grouping all consume. Estimation costs one equi-join on the
    signature table; no shingle-level comparison ever re-runs.

    Scale shape: edges exist only for LSH candidates (never all
    pairs); the match count joins signatures on (doc, h, value) — one
    shuffle keyed by doc_id; top-k per doc is the standard window.
    The graph is degree-bounded by construction (band collisions), so
    downstream clustering never sees a dense row."""
    # spread=True + columns=: shingle explosion + 8 minhash folds fuse
    # into the documents scan — one row group means one core does every
    # hash. Spreading the full row carried lang/n_chars/meta through
    # the exchange and regressed at 32 cores (3.3 -> 5.1 s), so only
    # (doc_id, text) is spread. A/B, 4 alternating reps, result-identical:
    # narrow 2.43s / full 2.58 / unspread 2.76 at 32 cores; 1.87 / 1.89
    # / 2.84 at 8 cores — narrow dominates both.
    d = load_table(
        spark, sf_dir, "documents", spread=True, columns=["doc_id", "text"]
    )
    sig = minhash_signatures(d).transform(materialize)
    pairs = lsh_candidate_pairs(d)
    sym = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).unionAll(pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
    a = sig.select(F.col("doc_id").alias("src"), "h", "minhash")
    b = sig.select(
        F.col("doc_id").alias("dst"),
        F.col("h").alias("h_b"),
        F.col("minhash").alias("minhash_b"),
    )
    m = (
        sym.join(a, "src")
        .join(b, "dst")
        .filter((F.col("h") == F.col("h_b")) & (F.col("minhash") == F.col("minhash_b")))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("n_match"))
    )
    w = Window.partitionBy("src").orderBy(F.col("n_match").desc(), F.col("dst"))
    return (
        m.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= KNN_K)
        .select(
            F.col("src").alias("doc_id"),
            F.col("dst").alias("neighbor_id"),
            F.round(F.col("n_match") / N_HASHES, 6).alias("est_jaccard"),
            "rk",
        )
        .orderBy("doc_id", "rk")
    )


CONTAIN_THRESHOLD = 0.9  # shingle-containment cut for "A inside B"


@register(
    "dedup_containment",
    oracle=f"""
    WITH sh AS (SELECT DISTINCT doc_id, shingle FROM ({_SHINGLES_SQL})),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    bands AS ({_BANDS_SQL}),
    pairs AS (
        SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
        FROM bands a JOIN bands c
          ON a.band = c.band AND a.bsig = c.bsig AND a.doc_id < c.doc_id
    ),
    inter AS (
        SELECT p.doc_a, p.doc_b, COUNT(*) AS m
        FROM pairs p
        JOIN sh a ON a.doc_id = p.doc_a
        JOIN sh b ON b.doc_id = p.doc_b AND b.shingle = a.shingle
        GROUP BY p.doc_a, p.doc_b
    )
    SELECT p.doc_a, p.doc_b,
           CAST(COALESCE(i.m, 0) AS BIGINT) AS n_common,
           CAST(sa.n AS BIGINT) AS n_a, CAST(sb.n AS BIGINT) AS n_b,
           round(CAST(COALESCE(i.m, 0) AS DOUBLE) / sa.n, 8) AS contain_a_in_b,
           round(CAST(COALESCE(i.m, 0) AS DOUBLE) / sb.n, 8) AS contain_b_in_a,
           (CAST(COALESCE(i.m, 0) AS DOUBLE) / sa.n >= {CONTAIN_THRESHOLD}
            OR CAST(COALESCE(i.m, 0) AS DOUBLE) / sb.n >= {CONTAIN_THRESHOLD})
               AS is_contained
    FROM pairs p
    JOIN sizes sa ON sa.doc_id = p.doc_a
    JOIN sizes sb ON sb.doc_id = p.doc_b
    LEFT JOIN inter i ON i.doc_a = p.doc_a AND i.doc_b = p.doc_b
    ORDER BY p.doc_a, p.doc_b
    """,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact shingle CONTAINMENT over LSH candidate pairs: C(A in B) =
    |A∩B| / |A| — the asymmetric cousin of Jaccard that catches a
    short document embedded verbatim inside a longer one (boilerplate
    wrappers, quote-and-extend posts), which symmetric Jaccard misses
    because the union is dominated by the larger doc.

    Scale shape: candidates come from the banded LSH self-join (never
    all-pairs); the intersection is one shingle equi-join over the
    candidate set; sizes are a per-doc count. Same plan skeleton as
    dedup_ngram_jaccard, different candidate source + both-direction
    scoring.

    Join-input reduction: every output row is keyed by a candidate PAIR, so the exact shingle table —
    previously exploded, distinct-ed and checkpointed for ALL documents
    — is needed only for documents that appear in some pair. The
    documents frame is semi-joined to the pair endpoints BEFORE the
    shingle explosion; sizes/intersections over the pruned table are
    value-identical for every surviving doc_id (per-doc shingles don't
    depend on other docs), so the result is unchanged while the widest
    shuffle + checkpoint in the plan shrinks from corpus-sized to
    candidate-sized — the same bound at 100 TB, where candidates are
    LSH-collision-bounded and the full distinct-shingle table would be
    the corpus itself."""
    d = load_table(spark, sf_dir, "documents")
    # Materialized: the candidate set feeds three consumers (the doc
    # universe prune, the intersection, the final assembly).
    pairs = lsh_candidate_pairs(d).transform(materialize)
    pair_docs = pairs.select(F.col("doc_a").alias("doc_id")).unionAll(
        pairs.select(F.col("doc_b").alias("doc_id"))
    )
    cand_docs = d.join(pair_docs, "doc_id", "left_semi")
    sh = shingles(cand_docs).distinct().transform(materialize)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("_bdoc"), F.col("shingle").alias("shingle_b"))
    inter = (
        pairs.join(a, "doc_a")
        .join(b, (F.col("doc_b") == F.col("_bdoc")) & (F.col("shingle") == F.col("shingle_b")))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("m"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    m = F.coalesce(F.col("m"), F.lit(0))
    ca = m.cast("double") / F.col("na")
    cb = m.cast("double") / F.col("nb")
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .join(inter, ["doc_a", "doc_b"], "left")
        .select(
            "doc_a",
            "doc_b",
            m.cast("long").alias("n_common"),
            F.col("na").cast("long").alias("n_a"),
            F.col("nb").cast("long").alias("n_b"),
            F.round(ca, 8).alias("contain_a_in_b"),
            F.round(cb, 8).alias("contain_b_in_a"),
            ((ca >= CONTAIN_THRESHOLD) | (cb >= CONTAIN_THRESHOLD)).alias("is_contained"),
        )
        .orderBy("doc_a", "doc_b")
    )


SEM_MIN_MATCH = 4  # >= 4 of 8 matching minhashes (est Jaccard >= 0.5)


@register(
    "semdedup_pipeline",
    oracle=f"""
    WITH RECURSIVE sig AS ({_MINHASH_SQL}),
    bands AS ({_BANDS_SQL}),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
        FROM bands a JOIN bands c
          ON a.band = c.band AND a.bsig = c.bsig AND a.doc_id < c.doc_id
    ),
    sym0 AS (
        SELECT doc_a AS src, doc_b AS dst FROM cand
        UNION ALL SELECT doc_b, doc_a FROM cand
    ),
    m AS (
        SELECT s.src, s.dst, COUNT(*) AS n_match
        FROM sym0 s
        JOIN sig a ON a.doc_id = s.src
        JOIN sig b ON b.doc_id = s.dst AND b.h = a.h AND b.minhash = a.minhash
        GROUP BY s.src, s.dst
    ),
    knn AS (
        SELECT src, dst FROM (
            SELECT src, dst, n_match,
                   ROW_NUMBER() OVER (PARTITION BY src
                                      ORDER BY n_match DESC, dst) AS rk
            FROM m
        ) WHERE rk <= {KNN_K} AND n_match >= {SEM_MIN_MATCH}
    ),
    edges AS (SELECT src AS a, dst AS b FROM knn
              UNION SELECT dst, src FROM knn),
    nodes AS (SELECT DISTINCT a AS id FROM edges),
    walk(id, comp) AS (
        SELECT id, id FROM nodes
        UNION
        SELECT e.b, w.comp FROM walk w JOIN edges e ON e.a = w.id
    ),
    fam AS (SELECT id, MIN(comp) AS family_id FROM walk GROUP BY id)
    SELECT CAST(f.family_id AS BIGINT) AS family_id,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(COUNT(*) - 1 AS BIGINT) AS n_removed,
           CAST(SUM(CASE WHEN f.id <> f.family_id THEN d.n_chars ELSE 0 END)
                AS BIGINT) AS chars_removed
    FROM fam f JOIN documents d ON d.doc_id = f.id
    GROUP BY f.family_id HAVING COUNT(*) >= 2
    ORDER BY family_id
    """,
)
def semdedup_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style near-dup FAMILY census, end-to-end in one plan:
    k-NN similarity graph (text_knn_graph) -> keep edges with
    estimated Jaccard >= SEM_MIN_MATCH/N_HASHES (0.5) -> connected
    components over the touched docs -> per-family keep-min-id
    census (members, docs removed, chars reclaimed). This is the
    full production dedup decision: not "which pairs look similar"
    but "which doc survives each duplicate family and how much
    volume the sweep reclaims".

    Scale shape: every stage is bounded — kNN edges only exist for
    LSH band collisions (degree-capped at KNN_K); label propagation
    runs ONLY over edge-touched docs (singletons — the overwhelming
    majority of a real corpus — never enter the loop); the census is
    one groupBy over the component table joined back to doc metadata.
    The oracle states the identical graph via a recursive-CTE
    reachability walk (per-family size^2 rows, fine at fixture
    scale; the Spark min-label loop is the 100 TB path)."""
    # Materialize the thresholded edge list once: both the node set
    # and connected_components' symmetric closure consume it, and
    # without this the whole minhash/LSH kNN pipeline upstream would
    # execute twice (measured ~2x the pipeline's wall time).
    edges = (
        text_knn_graph(spark, sf_dir)
        .filter(F.col("est_jaccard") * N_HASHES >= SEM_MIN_MATCH)
        .select(F.col("doc_id").alias("a"), F.col("neighbor_id").alias("b"))
        .transform(materialize)
    )
    nodes = (
        edges.select(F.col("a").alias("id"))
        .unionAll(edges.select(F.col("b").alias("id")))
        .distinct()
    )
    fam = connected_components(nodes, edges).select(
        "id", F.col("component").alias("family_id")
    )
    d = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return (
        fam.join(d, fam.id == d.doc_id)
        .groupBy("family_id")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            (F.count(F.lit(1)) - 1).alias("n_removed"),
            F.sum(
                F.when(F.col("id") != F.col("family_id"), F.col("n_chars")).otherwise(0)
            ).alias("chars_removed"),
        )
        .filter(F.col("n_members") >= 2)
        .select(
            F.col("family_id").cast("long").alias("family_id"),
            F.col("n_members").cast("long").alias("n_members"),
            F.col("n_removed").cast("long").alias("n_removed"),
            F.col("chars_removed").cast("long").alias("chars_removed"),
        )
        .orderBy("family_id")
    )


@register(
    "dedup_incremental_lsh",
    oracle=f"""
    WITH bands AS ({_BANDS_SQL}),
    sig AS ({_MINHASH_SQL}),
    nb AS (SELECT * FROM bands WHERE doc_id % 10 >= 8),
    ob AS (SELECT * FROM bands WHERE doc_id % 10 < 8),
    cand AS (
        SELECT DISTINCT n.doc_id AS new_doc, o.doc_id AS matched_doc
        FROM nb n JOIN ob o ON n.band = o.band AND n.bsig = o.bsig
        UNION
        SELECT DISTINCT GREATEST(a.doc_id, b.doc_id) AS new_doc,
                        LEAST(a.doc_id, b.doc_id) AS matched_doc
        FROM nb a JOIN nb b
          ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id
    ),
    m AS (
        SELECT c.new_doc, c.matched_doc, CAST(COUNT(*) AS BIGINT) AS n_match
        FROM cand c
        JOIN sig sa ON sa.doc_id = c.new_doc
        JOIN sig sb ON sb.doc_id = c.matched_doc
                   AND sb.h = sa.h AND sb.minhash = sa.minhash
        GROUP BY 1, 2
    )
    SELECT new_doc, matched_doc, n_match,
           round(n_match / {N_HASHES}.0, 6) AS est_jaccard
    FROM m WHERE n_match >= {N_HASHES // 2}
    ORDER BY new_doc, matched_doc
    """,
)
def dedup_incremental_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL near-dup dedup — the production operating mode the
    full-corpus queries above don't show: a new ingest batch (the 20%
    of docs with doc_id % 10 >= 8) is checked against the EXISTING
    corpus's persisted band index plus itself, and old-vs-old pairs
    are never generated — per-refresh cost scales with the batch, not
    with corpus². Candidates come only from band collisions
    (new-vs-indexed, plus new-vs-new with the keep-lowest-id
    direction); each candidate is scored by the minhash agreement
    fraction (n_match/N_HASHES=8, the unbiased Jaccard estimate) and
    accepted at >= 0.5 — the skip-list a curation pipeline applies
    before admitting the batch.

    Scale shape: signatures and bands for the batch are a narrow map;
    the index side is a pre-partitioned equi-join on (band, bsig);
    the verify join touches only candidate pairs x 8 signature rows.
    At 100 TB the band index is a bucketed table on (band, bsig) and
    this whole query is shuffle-free on the corpus side."""
    d = load_table(spark, sf_dir, "documents")
    sig = materialize(minhash_signatures(d))
    bands = lsh_bands(sig)
    is_new = F.col("doc_id") % 10 >= 8
    nb = bands.filter(is_new)
    ob = bands.filter(~is_new)
    new_old = (
        nb.join(
            ob.withColumnsRenamed({"doc_id": "matched_doc"}),
            ["band", "bsig"],
        )
        .select(F.col("doc_id").alias("new_doc"), "matched_doc")
    )
    b2 = nb.withColumnsRenamed({"doc_id": "doc_b"})
    new_new = (
        nb.join(b2, ["band", "bsig"])
        .filter(F.col("doc_id") < F.col("doc_b"))
        .select(
            F.greatest("doc_id", "doc_b").alias("new_doc"),
            F.least("doc_id", "doc_b").alias("matched_doc"),
        )
    )
    cand = new_old.unionByName(new_new).distinct()
    sa = sig.withColumnsRenamed({"doc_id": "new_doc"})
    sb = sig.withColumnsRenamed({"doc_id": "matched_doc", "minhash": "mh_b"})
    m = (
        cand.join(sa, "new_doc")
        .join(sb, ["matched_doc", "h"])
        .filter(F.col("minhash") == F.col("mh_b"))
        .groupBy("new_doc", "matched_doc")
        .agg(F.count(F.lit(1)).alias("n_match"))
        .filter(F.col("n_match") >= N_HASHES // 2)
    )
    return m.select(
        "new_doc",
        "matched_doc",
        "n_match",
        F.round(F.col("n_match") / float(N_HASHES), 6).alias("est_jaccard"),
    ).orderBy("new_doc", "matched_doc")


# Exact passage dedup: fixed-width word windows. 10 words is the
# classic "paragraph-ish" unit for word-soup fixtures; real corpora
# use 50-100-token windows (Lee et al.'s suffix-array substring dedup
# uses 50-token matches) — the plan is width-independent.
PASSAGE_WORDS = 10


@register(
    "dedup_passage_exact",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id,
               unnest(string_split_regex(trim(text), '\\s+')) AS w,
               generate_subscripts(string_split_regex(trim(text), '\\s+'), 1)
                   AS pos
        FROM documents
    ),
    chunks AS (
        SELECT doc_id, (pos - 1) // {PASSAGE_WORDS} AS chunk_idx,
               string_agg(w, ' ' ORDER BY pos) AS chunk
        FROM tok GROUP BY doc_id, (pos - 1) // {PASSAGE_WORDS}
    ),
    marked AS (
        SELECT doc_id, chunk_idx,
               ROW_NUMBER() OVER (PARTITION BY chunk
                                  ORDER BY doc_id, chunk_idx) AS occ
        FROM chunks
    )
    SELECT doc_id,
           COUNT(*) AS n_chunks,
           CAST(SUM(CASE WHEN occ > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup,
           CAST(SUM(CASE WHEN occ = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_kept
    FROM marked GROUP BY doc_id ORDER BY doc_id
    """,
)
def dedup_passage_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT passage-level dedup (the fixed-window approximation of
    Lee et al.'s suffix-array substring dedup): split every document
    into consecutive 10-word passages, keep only the FIRST
    occurrence of each exact passage corpus-wide (first = smallest
    (doc_id, chunk_idx)), and report each document's kept/dropped
    passage census — the operator that removes boilerplate repeated
    ACROSS documents while leaving novel text intact.

    Scale shape: passages are cut JVM-side with slice/transform over
    the split array (no Python, no shuffle); the only wide exchange
    hash-partitions passages by their TEXT for the first-occurrence
    window — the same shuffle key a groupBy-dedup would use, skew-safe
    because identical passages are exactly what the operator removes
    (heavy keys shrink to rank-1 survivors; AQE splits any residual
    giant). At real scale the passage string is replaced by its
    128-bit hash for shuffle width — semantics unchanged modulo
    collisions (~2^-64).

    Reference tie-in: none in the reference CUDA KV store — core
    LLM-corpus surface per the build brief."""
    d = load_table(spark, sf_dir, "documents")
    chunks = (
        d.select(
            "doc_id",
            F.posexplode(
                F.expr(
                    f"transform(sequence(0, (size(split(trim(text), "
                    f"'\\\\s+')) - 1) div {PASSAGE_WORDS}), "
                    f"i -> array_join(slice(split(trim(text), '\\\\s+'), "
                    f"i * {PASSAGE_WORDS} + 1, {PASSAGE_WORDS}), ' '))"
                )
            ).alias("chunk_idx", "chunk"),
        )
    )
    w = Window.partitionBy("chunk").orderBy("doc_id", "chunk_idx")
    marked = chunks.select(
        "doc_id", "chunk_idx", F.row_number().over(w).alias("occ")
    )
    return (
        marked.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(F.when(F.col("occ") > 1, 1).otherwise(0))
                .cast("long").alias("n_dup"),
            F.sum(F.when(F.col("occ") == 1, 1).otherwise(0))
                .cast("long").alias("n_kept"),
        )
        .orderBy("doc_id")
    )


# Recall-audit panel: a fixed doc-id window keeps the exact-truth side
# bounded at ANY corpus size (ground truth at 100 TB is only ever
# measurable on a sample).
AUDIT_PANEL_MAX = 200
# J >= 0.5 decided as the INTEGER inequality 3m >= |A|+|B| — no float.


@register(
    "dedup_lsh_recall_audit",
    oracle=f"""
    WITH sh AS (
        SELECT DISTINCT doc_id, shingle FROM ({_SHINGLES_SQL})
        WHERE doc_id < {AUDIT_PANEL_MAX}
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS m
        FROM sh a JOIN sh b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    truth AS (
        SELECT i.doc_a, i.doc_b
        FROM inter i
        JOIN sizes sa ON sa.doc_id = i.doc_a
        JOIN sizes sb ON sb.doc_id = i.doc_b
        WHERE 3 * i.m >= sa.n + sb.n
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
        FROM ({_BANDS_SQL}) a JOIN ({_BANDS_SQL}) c
          ON a.band = c.band AND a.bsig = c.bsig AND a.doc_id < c.doc_id
        WHERE a.doc_id < {AUDIT_PANEL_MAX} AND c.doc_id < {AUDIT_PANEL_MAX}
    ),
    s AS (
        SELECT
          (SELECT COUNT(*) FROM documents
           WHERE doc_id < {AUDIT_PANEL_MAX}) AS n_panel,
          (SELECT COUNT(*) FROM truth) AS n_true,
          (SELECT COUNT(*) FROM cand) AS n_candidates,
          (SELECT COUNT(*) FROM truth t JOIN cand c
           ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b) AS n_hits
    )
    SELECT CAST(n_panel AS BIGINT) AS n_panel,
           CAST(n_true AS BIGINT) AS n_true,
           CAST(n_candidates AS BIGINT) AS n_candidates,
           CAST(n_hits AS BIGINT) AS n_hits,
           CASE WHEN n_true = 0 THEN NULL
                ELSE CAST((2 * n_hits * 1000000 + n_true)
                          // (2 * n_true) AS DOUBLE) / 1000000.0 END
               AS recall,
           CASE WHEN n_candidates = 0 THEN NULL
                ELSE CAST((2 * n_hits * 1000000 + n_candidates)
                          // (2 * n_candidates) AS DOUBLE) / 1000000.0 END
               AS precision_
    FROM s
    """,
)
def dedup_lsh_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall/precision audit of the banded-LSH candidate generator
    against EXACT Jaccard ground truth on a fixed doc-id panel — the
    dedup-side twin of sim_ann_recall_report: before trusting 4x2-band
    minhash LSH to find near-dups at 100 TB, measure what fraction of
    true J>=0.5 pairs its band collisions actually surface (theory:
    P(candidate) = 1-(1-J^2)^4, ~0.68 at J=0.5, ~1 at J>=0.8).

    Scale shape: ground truth is only computable on a sample — the
    panel (doc_id < 200) bounds the exact shingle-join side at ANY
    corpus size, and per-doc minhash signatures depend only on the doc,
    so panel-restricted banding equals the full-corpus index filtered
    to the panel. The J >= 0.5 truth test is the INTEGER inequality
    3*|intersection| >= |A|+|B| (no float anywhere), and recall/
    precision quantize via integer (2u+c) div (2c) — the whole audit
    is exact integer arithmetic until two final double divisions.

    Reference tie-in: none in the reference CUDA KV store — index
    deployment gates per the build brief."""
    d = load_table(spark, sf_dir, "documents")
    panel = d.filter(F.col("doc_id") < AUDIT_PANEL_MAX)
    sh = shingles(panel).distinct().transform(materialize)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("m"))
    )
    truth = (
        inter.join(sizes.withColumnRenamed("doc_id", "doc_a"), "doc_a")
        .withColumnRenamed("n", "na")
        .join(
            sizes.withColumnRenamed("doc_id", "doc_b")
            .withColumnRenamed("n", "nb"),
            "doc_b",
        )
        .filter(3 * F.col("m") >= F.col("na") + F.col("nb"))
        .select("doc_a", "doc_b")
    )
    cand = lsh_candidate_pairs(panel)
    n_panel = panel.agg(F.count(F.lit(1)).alias("n_panel"))
    n_true = truth.agg(F.count(F.lit(1)).alias("n_true"))
    n_cand = cand.agg(F.count(F.lit(1)).alias("n_candidates"))
    n_hits = truth.join(cand, ["doc_a", "doc_b"]).agg(
        F.count(F.lit(1)).alias("n_hits")
    )
    wide = (
        n_panel.crossJoin(F.broadcast(n_true))
        .crossJoin(F.broadcast(n_cand))
        .crossJoin(F.broadcast(n_hits))
    )
    return wide.select(
        F.col("n_panel").cast("long").alias("n_panel"),
        F.col("n_true").cast("long").alias("n_true"),
        F.col("n_candidates").cast("long").alias("n_candidates"),
        F.col("n_hits").cast("long").alias("n_hits"),
        F.when(
            F.col("n_true") == 0, F.lit(None).cast("double")
        ).otherwise(
            F.expr(
                "(2 * CAST(n_hits AS DECIMAL(38,0)) * 1000000 + n_true)"
                " div (2 * n_true)"
            ).cast("double")
            / 1000000.0
        ).alias("recall"),
        F.when(
            F.col("n_candidates") == 0, F.lit(None).cast("double")
        ).otherwise(
            F.expr(
                "(2 * CAST(n_hits AS DECIMAL(38,0)) * 1000000"
                " + n_candidates) div (2 * n_candidates)"
            ).cast("double")
            / 1000000.0
        ).alias("precision_"),
    )


@register(
    "text_ngram_novelty",
    oracle=f"""
    WITH sh AS (SELECT DISTINCT doc_id, shingle FROM ({_SHINGLES_SQL})),
    first_seen AS (
        SELECT shingle, MIN(doc_id) AS first_doc FROM sh GROUP BY shingle
    ),
    per AS (
        SELECT s.doc_id,
               COUNT(*) AS n_sh,
               SUM(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
                   AS n_novel
        FROM sh s JOIN first_seen f USING (shingle)
        GROUP BY s.doc_id
    )
    SELECT d.lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(p.n_sh) AS BIGINT) AS n_shingles,
           CAST(SUM(p.n_novel) AS BIGINT) AS n_novel,
           round(CAST(SUM(p.n_novel) AS DOUBLE) / SUM(p.n_sh), 6)
               AS novelty_rate
    FROM per p JOIN documents d USING (doc_id)
    GROUP BY d.lang
    ORDER BY d.lang
    """,
)
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram novelty census per language: of each document's
    distinct 3-gram shingles, how many appear here FIRST (no
    earlier doc_id contains them)? Low novelty = the corpus is
    re-treading existing text (boilerplate, mirrors, near-dups the
    LSH pass should catch); the aggregate twin of
    dedup_decontaminate's per-pair containment, and the cheap
    leading indicator a crawl-freshness dashboard tracks.

    Scale shape: one groupBy-min over the shingle space assigns each
    shingle its first doc (the same shuffle key dedup_passage_exact
    uses — no pair generation anywhere); novelty then joins back on
    the shingle and collapses per doc, per lang. Integer counts plus
    ONE final division, so the oracle hash-gates exactly."""
    d = load_table(spark, sf_dir, "documents")
    sh = shingles(d).distinct().transform(materialize)
    first_seen = sh.groupBy("shingle").agg(F.min("doc_id").alias("first_doc"))
    per = (
        sh.join(first_seen, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_sh"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
            ).alias("n_novel"),
        )
    )
    return (
        per.join(d.select("doc_id", "lang"), "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_sh").cast("long").alias("n_shingles"),
            F.sum("n_novel").cast("long").alias("n_novel"),
            F.round(
                F.sum("n_novel").cast("double") / F.sum("n_sh"), 6
            ).alias("novelty_rate"),
        )
        .orderBy("lang")
    )
