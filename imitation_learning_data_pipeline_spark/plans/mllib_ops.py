"""MLlib-backed operators (BASELINE.json approach: "DataFrame
transformations + MLlib").

Two scale-path operators built on pyspark.ml:
- mllib_minhash_dups  — feature-hashed token vectors → MinHashLSH →
  approxSimilarityJoin: MLlib's banded implementation of the same
  near-dup search as plans/dedup.dedup_minhash_lsh.
- mllib_kmeans_ivf    — KMeans coarse quantizer → per-centroid
  candidate lists: the IVF index shape (cluster once, search only the
  query's cell) for ANN at corpus scale.

Both are iterative / model-fitting pipelines a SQL oracle cannot
replicate, so they register WITHOUT oracle_sql — the driver records the
weaker rows-only check (the deterministic-seed fit keeps them stable
run-to-run).

The *_verify / *_coverage companions below close that gap with
SQL-checkable invariants: the MLlib output feeds a Spark-side invariant
reduction whose expected value IS oracle-expressible (planted-pair
recall via exact shingle Jaccard, occupancy totals vs corpus count) —
so the driver's hash gate covers the MLlib path after all.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import ensure_utc
from ..sources import load_table
from ..sources.readers import spread
from .registry import register


# The MLlib minhash rows are CROSS-CHECKS of the native pipeline's
# minhash math, not production operators — and MLlib's
# approxSimilarityJoin offers NO bucket cap, so its candidate-pair
# count rides bucket occupancy superlinearly with corpus size
# (measured r14: isolated fresh-JVM exponents +1.29 / +1.86 at the 10×
# pairing — the data has no duplicated text, it is pure LSH occupancy
# growth; SCALING.md round-14 #3). Parity between MLlib and the native
# path is established by a FIXED-SIZE probe, so both rows run over a
# deterministic doc_id window: the full corpus at every driver SF
# (≤ sf0.1, ids 0..4999) and a bounded probe beyond. The bucket-capped
# native `dedup_minhash_lsh` is the production path and stays
# uncapped. The verify oracle applies the SAME window.
_MLLIB_MINHASH_PROBE_CAP = 5000


@register("mllib_minhash_dups", oracle=None)
def mllib_minhash_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs via MLlib MinHashLSH over hashed token-set
    vectors — over the fixed verification window (see
    ``_MLLIB_MINHASH_PROBE_CAP``; the native bucket-capped pipeline is
    the at-scale path)."""
    from pyspark.ml.feature import HashingTF, MinHashLSH

    from ..functions.text import clean_words, shingles_of_words

    ensure_utc(spark)
    docs = spread(
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter(F.col("doc_id") < _MLLIB_MINHASH_PROBE_CAP)
    )
    planted = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extra tail")).alias("text"),
    )
    # Shingle tokens, not single words: with a small shared vocabulary
    # every doc's word SET is nearly identical, and a word-set LSH join
    # degenerates to all-pairs. 3-gram shingles restore discrimination.
    corpus = (
        docs.unionByName(planted)
        .select("doc_id", "text", clean_words("text").alias("__w"))
        .withColumn("tokens", F.array_distinct(shingles_of_words(F.col("__w"), 3)))
        .filter(F.size("tokens") > 0)
        .drop("__w")
    )

    tf = HashingTF(inputCol="tokens", outputCol="features", numFeatures=1 << 18, binary=True)
    feat = tf.transform(corpus).select("doc_id", "features")
    mh = MinHashLSH(inputCol="features", outputCol="hashes", numHashTables=5, seed=42)
    model = mh.fit(feat)
    pairs = model.approxSimilarityJoin(feat, feat, 0.5, distCol="jaccard_dist")
    return (
        pairs.filter(F.col("datasetA.doc_id") < F.col("datasetB.doc_id"))
        .select(
            F.col("datasetA.doc_id").alias("doc_a"),
            F.col("datasetB.doc_id").alias("doc_b"),
            F.round(1 - F.col("jaccard_dist"), 4).alias("jaccard"),
        )
    )


def _minhash_verify_oracle() -> str:
    from .dedup import _shingle_sql

    sh = _shingle_sql(3)
    return f"""
WITH orig AS (
  SELECT doc_id, text FROM documents
  WHERE doc_id < {_MLLIB_MINHASH_PROBE_CAP}
), aug AS (
  SELECT doc_id, text || ' extra tail' AS text FROM documents
  WHERE doc_id % 10 = 0 AND doc_id < {_MLLIB_MINHASH_PROBE_CAP}
), so AS (
  SELECT doc_id, {sh} AS sh FROM orig
), sa AS (
  SELECT doc_id, {sh} AS sh FROM aug
)
SELECT CAST(count(*) FILTER (
         CAST(len(list_intersect(o.sh, a.sh)) AS DOUBLE)
         / len(list_distinct(o.sh || a.sh)) >= 0.5) AS BIGINT)
         AS planted_recalled,
       CAST(0 AS BIGINT) AS n_violations
FROM so o JOIN sa a USING (doc_id)
WHERE len(o.sh) > 0 AND len(a.sh) > 0
"""


@register("mllib_minhash_verify", oracle=_minhash_verify_oracle())
def mllib_minhash_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Invariant check on the MLlib MinHashLSH join (VERDICT r1 item 9).

    Two facts tie the model output to SQL-computable ground truth:
    - planted_recalled: approxSimilarityJoin(threshold 0.5) must return
      every planted (d, d+1M) pair whose EXACT 3-shingle Jaccard ≥ 0.5 —
      the oracle computes that set directly from the documents table.
      (MLlib's distCol is the exact vector Jaccard; LSH only gates
      candidate generation, and at j≈0.9 with 5 tables the miss
      probability is (1−j)^5 ≈ 1e-5 — deterministic under seed 42.)
    - n_violations: returned pairs whose exact shingle-set Jaccard
      contradicts the reported vector Jaccard by more than HashingTF-
      collision slack. Expected zero.
    """
    from ..functions.text import clean_words, shingles_of_words

    ensure_utc(spark)
    pairs = mllib_minhash_dups(spark, sf_dir)

    # same fixed probe window as mllib_minhash_dups (and its oracle)
    docs = spread(
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter(F.col("doc_id") < _MLLIB_MINHASH_PROBE_CAP)
    )
    planted = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extra tail")).alias("text"),
    )
    tokens = (
        docs.unionByName(planted)
        .select("doc_id", clean_words("text").alias("__w"))
        .withColumn("tokens", F.array_distinct(shingles_of_words(F.col("__w"), 3)))
        .filter(F.size("tokens") > 0)
        .select("doc_id", "tokens")
    )
    joined = (
        pairs.join(
            tokens.select(F.col("doc_id").alias("doc_a"), F.col("tokens").alias("ta")),
            "doc_a",
        )
        .join(
            tokens.select(F.col("doc_id").alias("doc_b"), F.col("tokens").alias("tb")),
            "doc_b",
        )
    )
    exact_j = F.size(F.array_intersect("ta", "tb")) / F.size(F.array_union("ta", "tb"))
    checked = joined.select(
        "doc_a",
        "doc_b",
        "jaccard",
        exact_j.alias("exact_jaccard"),
        (
            (F.col("doc_b") == F.col("doc_a") + 1000000)
            & (F.col("doc_a") % 10 == 0)
        ).alias("is_planted"),
    )
    return checked.agg(
        F.sum(F.col("is_planted").cast("int")).cast("long").alias("planted_recalled"),
        F.sum(
            (F.abs(F.col("exact_jaccard") - F.col("jaccard")) > 0.05).cast("int")
        )
        .cast("long")
        .alias("n_violations"),
    )


@register(
    "mllib_kmeans_coverage",
    oracle="""
SELECT CAST(count(*) AS BIGINT) AS n_vecs_total,
       TRUE AS within_k,
       TRUE AS medoids_are_members
FROM embeddings
""",
)
def mllib_kmeans_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Invariant check on the KMeans IVF index (VERDICT r1 item 9):
    cell occupancies must sum to the corpus size (every vector in exactly
    one cell), the cell count must respect k=16, and every per-cell
    medoid must be a real corpus vector — all SQL-constant facts."""
    ensure_utc(spark)
    cells = mllib_kmeans_ivf(spark, sf_dir)
    emb_ids = load_table(spark, sf_dir, "embeddings").select("vec_id")
    member_count = (
        cells.join(emb_ids, cells.medoid_vec == emb_ids.vec_id, "left_semi").count()
    )
    return cells.agg(
        F.sum("n_vecs").cast("long").alias("n_vecs_total"),
        (F.count("*") <= 16).alias("within_k"),
        (F.count("*") == F.lit(member_count)).alias("medoids_are_members"),
    )


def _ivf_fit(spark: SparkSession, sf_dir: str, k: int = 16):
    """Shared IVF quantizer: KMeans(k, seed=42) cell assignments + the
    centroid table (broadcastable: k rows)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector, vector_to_array

    ensure_utc(spark)
    emb = spread(load_table(spark, sf_dir, "embeddings"))
    vecs = emb.select(
        "vec_id",
        array_to_vector(F.col("embedding").cast("array<double>")).alias("features"),
    )
    km = KMeans(k=k, seed=42, maxIter=10, featuresCol="features", predictionCol="cell_id")
    model = km.fit(vecs)
    assigned = model.transform(vecs).select(
        "vec_id", "cell_id", vector_to_array("features").alias("v")
    )
    centers_df = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())],
        ["cell_id", "center"],
    )
    return assigned, centers_df


def ivf_topk(
    spark: SparkSession,
    sf_dir: str,
    nprobe: int = 1,
    k_neighbors: int = 5,
    n_queries: int = 8,
) -> DataFrame:
    """Multi-probe IVF search: each query scans its ``nprobe`` nearest
    cells, not just its own.

    At 100 TB: corpus written partitioned by cell_id; the (query →
    probe-cell) fan-out below is the partition-pruned scan list — nprobe
    trades recall for scanned fraction ≈ nprobe/k. The query→cell
    ranking runs over a broadcast k-row centroid table, and the probe
    list (n_queries × nprobe rows) broadcasts onto the corpus join.
    """
    from pyspark.sql.window import Window

    from ..functions.vector import dot, l2_norm

    assigned, centers_df = _ivf_fit(spark, sf_dir)

    queries = assigned.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv")
    )
    d2 = F.aggregate(
        F.zip_with(F.col("qv"), F.col("center"), lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    wq = Window.partitionBy("qid").orderBy(F.col("d2").asc(), F.col("cell_id").asc())
    probe = (
        queries.crossJoin(F.broadcast(centers_df))
        .select("qid", "qv", "cell_id", d2.alias("d2"))
        .withColumn("pr", F.row_number().over(wq))
        .filter(F.col("pr") <= nprobe)
        .select("qid", "qv", F.col("cell_id").alias("probe_cell"))
    )
    cand = assigned.join(
        F.broadcast(probe), assigned.cell_id == F.col("probe_cell")
    ).filter(F.col("vec_id") != F.col("qid"))
    cos = dot(F.col("qv"), F.col("v")) / (l2_norm(F.col("qv")) * l2_norm(F.col("v")))
    scored = cand.select("qid", "vec_id", F.round(cos, 6).alias("cos"))
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), "vec_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k_neighbors)
        .select("qid", "rnk", "vec_id", F.round("cos", 4).alias("cos_sim"))
    )


@register("ann_ivf_topk", oracle=None)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF search path: top-5 cosine neighbors over the nprobe=2 nearest
    KMeans cells — the learned-quantizer dual of ann_lsh_topk.

    Registered rows-only: the cell assignment comes from a model fit
    (deterministic under seed 42) that no SQL oracle can replay; the
    occupancy/membership invariants are contract-checked via
    mllib_kmeans_coverage, and the search quality via ann_ivf_recall.
    """
    return ivf_topk(spark, sf_dir, nprobe=2)


@register(
    "ann_ivf_recall",
    oracle="""
SELECT TRUE AS recall_monotone,
       TRUE AS full_probe_exact,
       CAST(8 AS BIGINT) AS n_queries
FROM (SELECT 1)
""",
)
def ann_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checkable IVF quality invariants (round-2 verdict item 6).

    recall@5 vs exact brute force must be monotone non-decreasing in
    nprobe (1 → 4), and probing ALL k cells must reproduce brute force
    exactly — both facts are guaranteed by IVF's construction (more
    probed cells ⇒ candidate superset ⇒ recall can only grow; all cells
    ⇒ the full corpus), so the oracle is the constant TRUE row. A failure
    here means the probe-cell ranking or candidate join is broken.
    """
    from ..functions.vector import dot, l2_norm
    from pyspark.sql.window import Window

    ensure_utc(spark)
    # Exact brute-force top-5 for the same 8 queries.
    emb = spread(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv")
    )
    cos = dot(F.col("qv"), F.col("v")) / (l2_norm(F.col("qv")) * l2_norm(F.col("v")))
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), "vec_id")
    exact = (
        emb.crossJoin(F.broadcast(queries))
        .filter(F.col("vec_id") != F.col("qid"))
        .select("qid", "vec_id", F.round(cos, 6).alias("cos"))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select("qid", "vec_id")
    )

    def recall(nprobe: int):
        hits = ivf_topk(spark, sf_dir, nprobe=nprobe).join(
            exact, ["qid", "vec_id"], "left_semi"
        )
        return hits.count() / exact.count()

    r1, r4, rall = recall(1), recall(4), recall(16)
    return spark.createDataFrame(
        [(bool(r4 >= r1), bool(rall == 1.0), 8)],
        "recall_monotone boolean, full_probe_exact boolean, n_queries long",
    )


@register("mllib_kmeans_ivf", oracle=None)
def mllib_kmeans_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse index: KMeans(k=16, seed=42) over embeddings, then
    per-cell occupancy + per-cell nearest-to-centroid representative.

    The search path at 100 TB: write the corpus partitioned by cell_id,
    assign a query to its nearest centroid(s), scan only those cells —
    the same partition-pruning shape as ann_lsh_topk with learned cells.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector, vector_to_array

    ensure_utc(spark)
    emb = spread(load_table(spark, sf_dir, "embeddings"))
    vecs = emb.select(
        "vec_id", array_to_vector(F.col("embedding").cast("array<double>")).alias("features")
    )
    km = KMeans(k=16, seed=42, maxIter=10, featuresCol="features", predictionCol="cell_id")
    model = km.fit(vecs)
    assigned = model.transform(vecs)

    # distance to own centroid via the model's centers (broadcast array)
    centers = model.clusterCenters()
    centers_df = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(centers)],
        ["cell_id", "center"],
    )
    j = assigned.select(
        "vec_id", "cell_id", vector_to_array("features").alias("v")
    ).join(F.broadcast(centers_df), "cell_id")
    dist = F.sqrt(
        F.aggregate(
            F.zip_with(F.col("v"), F.col("center"), lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    scored = j.select("vec_id", "cell_id", dist.alias("dist_to_centroid"))
    return scored.groupBy("cell_id").agg(
        F.count("*").alias("n_vecs"),
        F.min_by("vec_id", F.struct("dist_to_centroid", "vec_id")).alias(
            "medoid_vec"
        ),
        F.round(F.avg("dist_to_centroid"), 4).alias("avg_dist"),
    )


@register(
    "mllib_pca_coverage",
    oracle="""
SELECT CAST(count(*) AS BIGINT) AS n_vecs_total,
       TRUE AS orthonormal,
       TRUE AS variance_sorted,
       TRUE AS projection_total
FROM embeddings
""",
)
def mllib_pca_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Invariant check on an MLlib PCA dimensionality reduction of the
    embedding corpus (the standard pre-step before clustering/ANN on
    high-dim vectors): the k=8 principal components must be orthonormal
    (CᵀC = I within 1e-6 — a k×k driver-side check on the model, never
    the corpus), explained variance must be non-increasing, and the
    projection must cover every corpus vector exactly once. The fit is
    distributed (one corpus pass per covariance/SVD step); the checked
    facts are SQL constants, making the whole model pipeline
    hash-checkable like mllib_kmeans_coverage.
    """
    import numpy as np
    from pyspark.ml.feature import PCA
    from pyspark.ml.functions import array_to_vector

    ensure_utc(spark)
    emb = spread(load_table(spark, sf_dir, "embeddings"))
    vecs = emb.select(
        "vec_id",
        array_to_vector(F.col("embedding").cast("array<double>")).alias("features"),
    )
    model = PCA(k=8, inputCol="features", outputCol="proj").fit(vecs)
    comp = model.pc.toArray()  # (dim, k)
    gram = comp.T @ comp
    orthonormal = bool(np.abs(gram - np.eye(comp.shape[1])).max() < 1e-6)
    ev = list(model.explainedVariance)
    variance_sorted = all(a >= b - 1e-12 for a, b in zip(ev, ev[1:]))
    projected = model.transform(vecs).select("vec_id", "proj")
    return projected.agg(
        F.count("*").cast("long").alias("n_vecs_total"),
        F.lit(orthonormal).alias("orthonormal"),
        F.lit(variance_sorted).alias("variance_sorted"),
        (F.count("*") == F.count("proj")).alias("projection_total"),
    )


# --- SemDeDup: k-means-clustered semantic deduplication ----------------------
#
# The embedding-space dedup from the public SemDeDup paper (Abbas et al.
# 2023): cluster the corpus with k-means, find near-duplicate pairs only
# WITHIN each cluster (the clustering bounds the quadratic term), group
# them into components, and keep exactly one representative per group —
# --- persisted IVF index: centroid store + cell-partitioned layout ----------
#
# write_lsh_index (plans/similarity.py) persists the HASH-bucketed ANN
# index; this is its learned-quantizer dual — the other standard ANN
# store. The index is (a) a k-row centroid table and (b) the vectors
# written hive-partitioned BY CELL, so a search's probe list prunes at
# the PARTITION level: a 1000-executor scan touches ~nprobe/k of the
# files, asserted by ivf_scan_fraction / pytest via inputFiles. Appends
# assign new vectors to the FIXED fitted centroids map-side (broadcast
# k-row table + min_by over the k distances — no shuffle, no model
# object needed at ingest time) and land as new files under the same
# cell partitions; periodic refit = rebuild, the standard IVF
# maintenance trade (a drifting corpus degrades recall, not
# correctness, since search is exact within probed cells).


def write_ivf_index(
    emb: DataFrame, path: str, k: int = 16, seed: int = 42
) -> dict:
    """Fit the quantizer and persist the index: ``path/centroids``
    (k rows) + ``path/vectors`` partitioned by ``cell_id``.
    ``emb`` is any ``(vec_id long, embedding array<float/double>)``.
    Both are staged under ``path.tmp`` and swapped in as one directory,
    so a failed rebuild keeps the previous index whole."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector, vector_to_array

    from ..pipeline.fsio import _fs, _staged_swap, recover_frame

    spark = emb.sparkSession
    path = path.rstrip("/")
    tmp = path + ".tmp"
    recover_frame(spark, path)
    vecs = emb.select(
        "vec_id",
        array_to_vector(F.col("embedding").cast("array<double>")).alias("features"),
    )
    km = KMeans(k=k, seed=seed, maxIter=10, featuresCol="features",
                predictionCol="cell_id")
    model = km.fit(vecs)
    centers = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())],
        ["cell_id", "center"],
    )
    centers.coalesce(1).write.mode("overwrite").parquet(f"{tmp}/centroids")
    assigned = model.transform(vecs).select(
        "vec_id", "cell_id", vector_to_array("features").alias("v")
    ).persist()
    try:
        assigned.write.mode("overwrite").partitionBy("cell_id").parquet(
            f"{tmp}/vectors"
        )
        n = assigned.count()  # served from the persisted assignment
    finally:
        assigned.unpersist()
    fs, _ = _fs(spark, path)
    _staged_swap(spark, fs, path, tmp, path + ".pending")
    return {"cells": k, "vectors": n}


def _nearest_cells(
    vecs: DataFrame, centers: DataFrame, n: int, id_col: str = "vec_id"
) -> DataFrame:
    """(id, cell_id) of the ``n`` nearest centroids per vector — k-row
    broadcast crossJoin + rank; JVM array expressions only."""
    from pyspark.sql.window import Window

    d2 = F.aggregate(
        F.zip_with(F.col("v"), F.col("center"), lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    w = Window.partitionBy(id_col).orderBy(F.col("d2").asc(), F.col("cell_id").asc())
    ranked = (
        vecs.crossJoin(F.broadcast(centers))
        .select(id_col, "v", "cell_id", d2.alias("d2"))
        .withColumn("pr", F.row_number().over(w))
        .filter(F.col("pr") <= n)
    )
    return ranked.select(id_col, "v", "cell_id")


def append_ivf_index(emb: DataFrame, path: str) -> dict:
    """Incremental index maintenance: assign a batch to the FIXED
    centroids (broadcast, map-side — the per-vector window here spans
    k rows per vector inside one batch partition) and append under the
    cell partitions. O(batch) — the stored corpus is never rescanned."""
    from ..pipeline.fsio import recover_frame

    spark = emb.sparkSession
    recover_frame(spark, path)  # a crashed rebuild is finished first
    centers = spark.read.parquet(f"{path}/centroids")
    vecs = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    assigned = _nearest_cells(vecs, centers, 1).persist()
    try:
        assigned.select("vec_id", "v", "cell_id").write.mode("append").partitionBy(
            "cell_id"
        ).parquet(f"{path}/vectors")
        n = assigned.count()  # served from the persisted assignment
    finally:
        assigned.unpersist()
    return {"appended": n}


def _probe_vectors(
    spark: SparkSession, path: str, queries: DataFrame, nprobe: int
):
    """(probe frame, pruned corpus reader, n pruned dirs) for a search:
    the probe-cell list is collected (n_queries × nprobe ints —
    metadata), and the reader is built from the EXPLICIT cell partition
    directories (with basePath so cell_id survives) — the scan never
    even LISTS the un-probed partitions, which is the whole economics
    of the layout. Cells the quantizer left empty have no directory and
    are skipped via O(nprobe) FS existence checks. When EVERY probed
    cell is absent the reader is an explicit schema-literal empty frame
    (ADVICE r11): the old ``read.parquet(root).limit(0)`` fallback
    listed the whole index in ``inputFiles()`` — inverting the scan
    receipt in exactly the degenerate case — and crashed outright on a
    fully-empty vectors root (no footer to infer from)."""
    from ..pipeline.fsio import _fs, _jvm_path

    centers = spark.read.parquet(f"{path}/centroids")
    probe = _nearest_cells(
        queries.select(F.col("qid").alias("vec_id"), "v"), centers, nprobe
    ).select(F.col("vec_id").alias("qid"), F.col("v").alias("qv"), "cell_id")
    cells = sorted({r["cell_id"] for r in probe.select("cell_id").distinct().collect()})
    vec_root = f"{path.rstrip('/')}/vectors"
    fs, _ = _fs(spark, vec_root)
    jpath = _jvm_path(spark)
    dirs = [
        f"{vec_root}/cell_id={c}"
        for c in cells
        if fs.exists(jpath(f"{vec_root}/cell_id={c}"))
    ]
    if not dirs:
        empty = spark.createDataFrame(
            [], "vec_id long, v array<double>, cell_id int"
        )
        return probe, empty, 0
    pruned = spark.read.option("basePath", vec_root).parquet(*dirs)
    return probe, pruned, len(dirs)


def search_ivf_index(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    nprobe: int = 2,
    k_neighbors: int = 5,
    exclude_self: bool = False,
) -> DataFrame:
    """Top-``k_neighbors`` cosine neighbors per query over the probed
    cells of a persisted index. ``queries`` is ``(qid long,
    v array<double>)``. Exact within probed cells; recall follows
    nprobe/k exactly as the in-memory ivf_topk path (whose pytest pins
    full-probe == brute force). ``exclude_self=True`` drops stored
    vectors whose vec_id equals the query's qid — ONLY correct when the
    queries are corpus members sharing the index's id space (the
    ivf_topk shape); external query frames must keep the default, else
    an id collision silently suppresses a true neighbor."""
    from pyspark.sql.window import Window

    from ..functions.vector import dot, l2_norm

    probe, corpus, _ = _probe_vectors(spark, path, queries, nprobe)
    cand = corpus.join(F.broadcast(probe), "cell_id")
    if exclude_self:
        cand = cand.filter(F.col("vec_id") != F.col("qid"))
    cos = dot(F.col("qv"), F.col("v")) / (l2_norm(F.col("qv")) * l2_norm(F.col("v")))
    scored = cand.select("qid", "vec_id", F.round(cos, 6).alias("cos"))
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), "vec_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k_neighbors)
        .select("qid", "rnk", "vec_id", F.round("cos", 4).alias("cos_sim"))
    )


def ivf_scan_fraction(
    spark: SparkSession, path: str, queries: DataFrame, nprobe: int
) -> dict:
    """Observability: how much of the index a search would read —
    (files_read, files_total). The partition-pruning receipt. When no
    probed cell directory exists the search reads NOTHING —
    files_read is 0, not the schema-reader's full listing (ADVICE
    r11: the receipt used to invert in exactly the degenerate case)."""
    from pyspark.errors import AnalysisException

    _, pruned, n_dirs = _probe_vectors(spark, path, queries, nprobe)
    try:
        files_total = len(spark.read.parquet(f"{path}/vectors").inputFiles())
    except AnalysisException:  # fully-empty vectors root: nothing stored
        files_total = 0
    return {
        "files_read": 0 if n_dirs == 0 else len(pruned.inputFiles()),
        "files_total": files_total,
    }


# the paper keeps the member with the LOWEST cosine similarity to its
# cluster centroid (prototypical examples are the redundant ones;
# boundary examples carry the information).
#
# Spark shape: k-means fit + transform (MLlib, seeded), centroid
# similarity as a broadcast join + zip_with dot product (k rows), the
# pair search reuses plans/dedup.embedding_cosine_pairs with cell_id as
# the blocking label (block_cap salting bounds every gemm task), and the
# keep rule is a min_by aggregate over the PAIRS-SIZED component frame —
# no corpus-wide window, no giant null partition for singletons.


def semdedup(
    corpus: DataFrame,
    k: int = 16,
    threshold: float = 0.95,
    seed: int = 42,
    block_cap: int = 8192,
    probe_cells: int = 1,
) -> DataFrame:
    """SemDeDup keep/drop assignments for ANY ``(vec_id, v)`` frame
    (``v`` = array<double> embedding) → one row per vector:
    (vec_id, cell_id, centroid_sim, cluster_id, keep).

    ``cluster_id`` is NULL for semantic singletons (always kept); every
    non-null cluster keeps exactly one member.

    ``probe_cells``: cells each vector is SEARCHED in (its output
    cell_id stays the nearest). The measured loss channel of cell
    blocking is twins straddling a k-means boundary (2.5% on an
    adversarial midpoint population, 0% elsewhere — SCALING.md
    round-9); ``probe_cells=2`` runs the pair stage on each vector's
    two nearest cells, closing that channel for ~2× the gemm cost —
    the IVF-multiprobe recipe applied to cells. Components still merge
    by vec_id, so a pair found in either probe cell joins the same
    cluster and keepers stay deterministic."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    from ..functions.vector import cosine
    from .dedup import connected_components, embedding_cosine_pairs

    spark = corpus.sparkSession
    vecs = corpus.select(
        "vec_id", "v", array_to_vector("v").alias("features")
    )
    km = KMeans(
        k=k, seed=seed, maxIter=10,
        featuresCol="features", predictionCol="cell_id",
    )
    model = km.fit(vecs)
    centers = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())],
        ["cell_id", "center"],
    )
    assigned = (
        model.transform(vecs)
        .select("vec_id", "cell_id", "v")
        .join(F.broadcast(centers), "cell_id")
        .select(
            "vec_id",
            "cell_id",
            "v",
            F.round(cosine("v", "center"), 4).alias("centroid_sim"),
        )
    )
    if probe_cells <= 1:
        probe_frame = assigned.select(
            F.col("cell_id").alias("label"), "vec_id", "v"
        )
    else:
        # multiprobe, SHUFFLE-FREE: the centers are a k×d plan literal
        # (they were collected for the broadcast join above anyway), so
        # per-vector centroid ranking is a map-side array expression —
        # score every center (|v|² is rank-invariant and dropped),
        # array_sort, slice the probe_cells nearest, explode. No
        # exchange anywhere; the exploded frame is probe_cells× the
        # corpus, exactly the extra gemm work multiprobe buys. Guarded:
        # a huge k would bloat the plan with k·d literals — that regime
        # wants the IVF index (mllib_kmeans_ivf), not literal centers.
        ctrs = model.clusterCenters()
        if len(ctrs) * len(ctrs[0]) > 200_000:
            raise ValueError(
                "semdedup(probe_cells>1): k·dim too large for literal "
                "center ranking; reduce k or probe via mllib_kmeans_ivf"
            )
        centers_arr = F.array(
            *[
                F.struct(
                    F.lit(int(i)).alias("cell_id"),
                    F.array(*[F.lit(float(x)) for x in c]).alias("center"),
                )
                for i, c in enumerate(ctrs)
            ]
        )
        scored = F.transform(
            centers_arr,
            lambda s: F.struct(
                (
                    F.aggregate(
                        F.zip_with(
                            F.col("v"), s["center"], lambda a, b: a * b
                        ),
                        F.lit(0.0),
                        lambda acc, x: acc + x,
                    )
                    * F.lit(-2.0)
                    + F.lit(0.0)
                    + F.aggregate(
                        F.transform(s["center"], lambda b: b * b),
                        F.lit(0.0),
                        lambda acc, x: acc + x,
                    )
                ).alias("d2"),
                s["cell_id"].alias("cell_id"),
            ),
        )
        probe_frame = (
            vecs.select(
                "vec_id",
                "v",
                F.explode(
                    F.slice(F.array_sort(scored), 1, int(probe_cells))
                ).alias("__probe"),
            )
            .select(
                F.col("__probe.cell_id").alias("label"), "vec_id", "v"
            )
        )
    pairs = embedding_cosine_pairs(
        probe_frame,
        threshold=threshold,
        block_cap=block_cap,
    )
    comps = connected_components(pairs.select("vec_a", "vec_b")).select(
        F.col("doc_id").alias("vec_id"), "cluster_id"
    )
    # keeper per component: min over (centroid_sim, vec_id) — struct
    # ordering gives the deterministic tiebreak; the aggregate runs on
    # the pairs-sized membership frame, not the corpus
    keepers = (
        assigned.select("vec_id", "centroid_sim")
        .join(comps, "vec_id")
        .groupBy("cluster_id")
        .agg(
            F.min_by(
                "vec_id", F.struct(F.col("centroid_sim"), F.col("vec_id"))
            ).alias("keep_vec")
        )
    )
    return (
        assigned.select("vec_id", "cell_id", "centroid_sim")
        .join(comps, "vec_id", "left")
        .join(keepers, "cluster_id", "left")
        .select(
            "vec_id",
            "cell_id",
            "centroid_sim",
            "cluster_id",
            (
                F.col("cluster_id").isNull()
                | (F.col("vec_id") == F.col("keep_vec"))
            ).alias("keep"),
        )
    )


@register(
    "semdedup_embeddings",
    oracle="""
SELECT CAST(count(*) + sum(CASE WHEN vec_id % 50 = 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_total,
       TRUE AS one_keeper_per_cluster,
       TRUE AS twins_resolved
FROM embeddings
""",
)
def semdedup_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Invariant-constants check over SemDeDup on the planted corpus
    (every vec_id % 50 == 0 vector gets an EXACT copy at +1000000):
    totals must cover the corpus, every non-null cluster must keep
    exactly one member, and every planted identical twin-pair must
    resolve to exactly one kept side (identical vectors land in the
    same k-means cell, so the pair is always found)."""
    from ..functions.vector import as_double

    ensure_utc(spark)
    emb = spread(load_table(spark, sf_dir, "embeddings"))
    base = emb.select("vec_id", as_double("embedding").alias("v"))
    planted = emb.filter(F.col("vec_id") % 50 == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        as_double("embedding").alias("v"),
    )
    out = semdedup(base.unionByName(planted)).persist()
    per_cluster = (
        out.filter(F.col("cluster_id").isNotNull())
        .groupBy("cluster_id")
        .agg(F.sum(F.col("keep").cast("int")).alias("n_kept"))
    )
    bad_clusters = per_cluster.filter(F.col("n_kept") != 1).count()
    twins = out.filter(F.col("vec_id") >= 1000000).select(
        (F.col("vec_id") - 1000000).alias("vec_id"),
        F.col("keep").alias("keep_copy"),
    )
    twin_pairs = out.join(twins, "vec_id").select(
        (F.col("keep").cast("int") + F.col("keep_copy").cast("int")).alias("n")
    )
    bad_twins = twin_pairs.filter(F.col("n") != 1).count()
    res = out.agg(
        F.count("*").cast("long").alias("n_total"),
        F.lit(bad_clusters == 0).alias("one_keeper_per_cluster"),
        F.lit(bad_twins == 0).alias("twins_resolved"),
    )
    out.unpersist()
    return res
