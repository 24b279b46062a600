"""DSIR — Data Selection via Importance Resampling (Xie et al., 2023,
arXiv:2302.03169): select raw-corpus documents whose hashed-n-gram
distribution looks like a target domain.

Method, re-expressed Spark-first:

1. Featurize every document as a bag of hashed unigrams+bigrams over the
   shared ``clean_words`` tokenization (multiplicity kept — DSIR uses
   bag counts, not distinct sets). The hash is the repo's portable
   md5-prefix bucket (``functions/hashing.py`` discipline), so DuckDB
   recomputes it bit-identically.
2. Estimate the target and raw bucket distributions with add-one
   smoothing and form per-bucket log importance weights
   ``ln(p_target(b) / q_raw(b))``.
3. Score each document: the sum of its feature weights.
4. Resample top-k with Gumbel noise on a seeded md5 unit draw —
   Gumbel-top-k is exactly sampling-without-replacement with
   probability ∝ exp(score), the importance-resampling step of the
   paper, and the seeded draw makes it a pure function of
   (doc_id, seed).

Cross-engine determinism: every float is collapsed to an integer at a
portable point (see ``functions/rounding.py`` — integer rounding is
bit-portable, fractional rounding is not). Per-bucket weights become
``round(ln(...)·10⁴)`` BIGINTs (ONE ln per bucket, mirrored
expression structure on both engines), so document scores are exact
integer sums — immune to float addition order. The Gumbel key is one
more ln pair per document, integer-quantized the same way.

Scale shape (100 TB): featurize + bucket-count is one map-side-combinable
aggregate over 8-byte bucket ids (text never shuffles); the weight table
is ``n_buckets`` rows (default 4096 — metadata-sized, broadcast); scoring
is a broadcast join + partial-agg sum; selection is TakeOrdered (top-k,
no global sort). The paper's own pipeline hashes into 10⁴ buckets for
multi-TB Pile selection — the same order of magnitude.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import clean_words, shingles_of_words
from ..session import ensure_utc
from ..sources import load_table
from .dedup import _W_SQL
from .registry import register

N_BUCKETS = 4096
_SCALE = 10000  # integer quantization: round(x * _SCALE) (portable)


def dsir_bucket(ng: Column, n_buckets: int = N_BUCKETS, seed: str = "dsir") -> Column:
    """Hashed feature bucket: first 8 md5 hex chars → BIGINT → mod.

    md5 over the seeded string is engine-portable (the repo's F3/F4
    hashing discipline); the 32-bit prefix is always positive, so plain
    ``%`` agrees between engines.
    """
    h = F.conv(F.substring(F.md5(F.concat(F.lit(seed), F.lit("|"), ng)), 1, 8), 16, 10)
    return (h.cast("long") % n_buckets).alias("bkt")


def doc_features(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, bkt): one row per unigram+bigram OCCURRENCE (bag
    semantics — multiplicity kept, unlike the dedup shingle plans)."""
    # Project clean_words FIRST (the shingles_of_words lambda-CSE rule:
    # higher-order fns re-evaluate captured expressions per element).
    w = F.col("__w")
    return (
        docs.select("doc_id", clean_words(text_col).alias("__w"))
        .select("doc_id", F.explode(F.concat(w, shingles_of_words(w, 2))).alias("ng"))
        .select("doc_id", dsir_bucket(F.col("ng")))
    )


def _parse_bytes(s: str) -> int:
    """Parse a Spark size conf string ("10MB", "10485760b", "-1")."""
    s = s.strip().lower()
    mult = 1
    for suffix, m in (("kb", 1 << 10), ("mb", 1 << 20), ("gb", 1 << 30),
                      ("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30), ("b", 1)):
        if s.endswith(suffix):
            s, mult = s[: -len(suffix)], m
            break
    return int(s) * mult


def _broadcast_if_small(df: DataFrame) -> DataFrame:
    """Broadcast-hint ``df`` only when its optimizer size estimate fits
    the session's ``autoBroadcastJoinThreshold``.

    Uses plan statistics (no action triggered). Any introspection
    failure leaves the hint off — with no hint AQE still broadcasts a
    small side at runtime, whereas a forced hint on a huge frame rams
    it into driver memory. So the failure mode of NOT hinting is a
    shuffle join; the failure mode of over-hinting is an OOM.
    """
    try:
        spark = df.sparkSession
        thresh = _parse_bytes(
            spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
        )
        if thresh <= 0:
            return df
        size = int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes().toString()
        )
        if size <= thresh:
            return F.broadcast(df)
    except Exception:
        pass
    return df


def dsir_weights(
    feats: DataFrame,
    target_ids: DataFrame,
    n_buckets: int = N_BUCKETS,
) -> DataFrame:
    """Per-bucket integer log importance weights ``(bkt, w_int)``.

    ``feats`` is the RAW corpus featurization (:func:`doc_features`);
    ``target_ids`` is a (doc_id) frame naming the target-domain subset.
    Buckets never seen in the raw corpus cannot appear in any raw
    document, so the weight table inner-joins losslessly downstream.
    Both counts are map-side-combinable aggregates; the result is
    ``n_buckets`` rows — broadcast it.

    The target-id join is broadcast only when ``target_ids``'s
    plan-statistics size fits under the session's
    ``autoBroadcastJoinThreshold`` (the LM-scorer conditional pattern):
    the contract's target is tiny, but this API accepts ANY frame, and
    force-broadcasting a 10⁸-row target domain would OOM the driver
    where a shuffle join degrades gracefully. With no hint, AQE picks.
    """
    raw_c = feats.groupBy("bkt").agg(F.count("*").alias("n_r"))
    tgt_c = (
        feats.join(_broadcast_if_small(target_ids), "doc_id")
        .groupBy("bkt")
        .agg(F.count("*").alias("n_t"))
    )
    joined = raw_c.join(tgt_c, "bkt", "left").select(
        "bkt", "n_r", F.coalesce("n_t", F.lit(0)).alias("n_t")
    )
    return _weights_from_counts(joined, n_buckets)


def _weights_from_counts(joined: DataFrame, n_buckets: int) -> DataFrame:
    """(bkt, n_r, n_t) → (bkt, w_int): add-one-smoothed integer log
    importance weights. ONE ln per bucket (registry float discipline)."""
    # 1-row broadcast totals; qualify both sides (totals derives from
    # `joined`, so unqualified names are self-join-ambiguous).
    totals = joined.agg(
        F.sum("n_r").alias("N_r"), F.sum("n_t").alias("N_t")
    )
    j, t = joined.alias("j"), totals.alias("t")
    b = F.lit(n_buckets)
    p_t = (F.col("j.n_t") + 1).cast("double") / (F.col("t.N_t") + b).cast("double")
    p_r = (F.col("j.n_r") + 1).cast("double") / (F.col("t.N_r") + b).cast("double")
    return j.crossJoin(F.broadcast(t)).select(
        F.col("j.bkt").alias("bkt"),
        F.round(F.log(p_t / p_r) * _SCALE).cast("long").alias("w_int"),
    )


def dsir_weights_paired(
    raw_feats: DataFrame,
    tgt_feats: DataFrame,
    n_buckets: int = N_BUCKETS,
) -> DataFrame:
    """Weights from SEPARATE raw / target featurizations — the exact
    paper setting (Xie et al. §3): q is the raw distribution ALONE and
    p the target distribution alone, never a union of the two.

    Use this when the target corpus is a DIFFERENT dataset from the raw
    pool (the CLI's ``--target`` path). :func:`dsir_weights` remains
    the right call when the target is a SUBSET of the raw corpus named
    by ids (``--target-where``) — there the paper's q genuinely
    includes the target docs, because they are raw-pool members.

    Buckets seen by EITHER side get a row (full outer join, 0-fill):
    target-distinctive vocabulary absent from this raw pool still earns
    its positive weight, which matters when the table is persisted and
    later applied to new batches (:func:`dsir_select_batch`).
    Overlapping doc_ids between the frames are harmless — each side
    counts only its own featurization, nothing merges.
    """
    raw_c = raw_feats.groupBy("bkt").agg(F.count("*").alias("n_r"))
    tgt_c = tgt_feats.groupBy("bkt").agg(F.count("*").alias("n_t"))
    joined = raw_c.join(tgt_c, "bkt", "full").select(
        "bkt",
        F.coalesce("n_r", F.lit(0)).alias("n_r"),
        F.coalesce("n_t", F.lit(0)).alias("n_t"),
    )
    return _weights_from_counts(joined, n_buckets)


def dsir_scores(
    docs: DataFrame,
    weights: DataFrame,
    text_col: str = "text",
    feats: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, score_int): integer importance score per document.

    Documents with no features (empty after normalization) score 0 —
    they stay eligible for resampling on noise alone, matching the
    paper's "every raw example has nonzero resampling probability".
    Pass the already-built ``feats`` frame (pinned) to share ONE
    featurization pass with :func:`dsir_weights`.

    The weight join is LEFT with weight-0 fill, same as
    :func:`dsir_select_batch`: when ``weights`` came from
    :func:`dsir_weights` over this very corpus the joins are identical
    (every feature bucket has a weight row), but a persisted / foreign
    weight store (:func:`read_dsir_weights`) can miss buckets this
    corpus produces — an inner join would silently drop those features,
    and the smoothed log-ratio of an unseen bucket is ~0 by
    construction, so 0-fill is the unbiased treatment.
    """
    if feats is None:
        feats = doc_features(docs, text_col)
    scored = (
        feats.join(F.broadcast(weights), "bkt", "left")
        .groupBy("doc_id")
        .agg(F.sum(F.coalesce("w_int", F.lit(0))).alias("score_int"))
    )
    return (
        docs.select("doc_id")
        .join(scored, "doc_id", "left")
        .select("doc_id", F.coalesce("score_int", F.lit(0)).alias("score_int"))
    )


def gumbel_key_int(doc_id: Column, seed: str = "dsir-g") -> Column:
    """Integer-quantized seeded Gumbel draw: ``round(G(doc_id)·10⁴)``.

    ``u = (h32 + 0.5) / 2³²`` keeps u strictly inside (0, 1) — the
    +0.5 is exact in binary, so both engines feed ln the identical
    double. One ``-ln(-ln(u))`` per document.
    """
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit(seed), F.lit("|"), doc_id.cast("string"))), 1, 8),
        16,
        10,
    ).cast("long")
    u = (h.cast("double") + 0.5) / F.lit(4294967296.0)
    return F.round(-F.log(-F.log(u)) * _SCALE).cast("long")


def dsir_resample_topk(
    scored: DataFrame, k: int = 100, seed: str = "dsir-g"
) -> DataFrame:
    """Gumbel-top-k resampling: top ``k`` by ``score_int + gumbel``.

    TakeOrdered (orderBy+limit) — no global sort materializes; the rank
    column is attached AFTER the limit, a window over ≤k driver-bound
    rows (the documented text_topk_ngrams pattern, not a scale risk).
    """
    from pyspark.sql.window import Window

    key = (F.col("score_int") + gumbel_key_int(F.col("doc_id"), seed)).alias("key_int")
    top = scored.select("doc_id", "score_int", key).orderBy(
        F.col("key_int").desc(), "doc_id"
    ).limit(k)
    w = Window.orderBy(F.col("key_int").desc(), "doc_id")
    return top.select(
        F.row_number().over(w).alias("rk"),
        "doc_id",
        (F.col("score_int").cast("double") / _SCALE).alias("score"),
        (F.col("key_int").cast("double") / _SCALE).alias("sample_key"),
    )


def write_dsir_weights(weights: DataFrame, path: str) -> DataFrame:
    """Persist the bucket-weight table (the decontam probe-store
    pattern: estimate ONCE over the reference corpora, then select each
    incoming batch at O(batch)). B rows — one parquet part, committed
    whole (a failed rebuild keeps the previous table). Returns a read
    of the committed table."""
    from ..pipeline.fsio import commit_frame

    return commit_frame(weights.coalesce(1), path)


def read_dsir_weights(spark: SparkSession, path: str) -> DataFrame:
    """Load a persisted weight table for batch scoring."""
    w = spark.read.parquet(path)
    missing = {"bkt", "w_int"} - set(w.columns)
    if missing:
        raise ValueError(f"not a DSIR weight store (missing {sorted(missing)}): {path}")
    return w


def dsir_select_batch(
    docs: DataFrame,
    weights: DataFrame,
    k: int = 1000,
    seed: str = "dsir-g",
    text_col: str = "text",
) -> DataFrame:
    """Score + Gumbel-top-k one incoming batch against STORED weights —
    cost O(batch), nothing about the reference corpora is recomputed.

    The weight join is LEFT with weight-0 fill: a batch can contain
    feature buckets the estimation corpora never produced (new
    vocabulary), and the smoothed log-ratio of an unseen bucket is ~0
    by construction — an inner join would silently drop those features
    and bias the scores.
    """
    feats = doc_features(docs, text_col)
    scored = (
        feats.join(F.broadcast(weights), "bkt", "left")
        .groupBy("doc_id")
        .agg(F.sum(F.coalesce("w_int", F.lit(0))).alias("score_int"))
    )
    scored = (
        docs.select("doc_id")
        .join(scored, "doc_id", "left")
        .select("doc_id", F.coalesce("score_int", F.lit(0)).alias("score_int"))
    )
    return dsir_resample_topk(scored, k=k, seed=seed)


def read_dsir_selection(spark: SparkSession, store_path: str, k: int) -> DataFrame:
    """Fold a streaming DSIR store (per-batch Gumbel-top-k partitions
    from ``run_incremental_dsir_stream(k_per_batch=...)``) into the
    EXACT global top-k.

    Why this is exact, not approximate: the Gumbel key is a pure
    function of (doc_id, seed) — identical whether a doc was scored in
    batch 3 or in one big batch — and each batch contributes at most
    ``k`` rows to the global top-k, so with ``k ≤ k_per_batch`` every
    global winner survived its own batch's cut. The fold is a
    TakeOrdered over ≤ batches·k_per_batch candidate rows — metadata-
    sized, never a corpus pass (pytest-locked equal to the single-batch
    selection).
    """
    from pyspark.sql.window import Window

    store = spark.read.parquet(store_path)
    need = {"doc_id", "score", "sample_key"}
    if not need <= set(store.columns):
        raise ValueError(
            f"not a streaming DSIR selection store (need {sorted(need)}): {store_path}"
        )
    # Exactness guard: the containment argument needs k ≤ k_per_batch.
    # The streaming writer stamps its k into every row; a store written
    # with a smaller per-batch cut cannot answer a larger global k
    # exactly — refuse rather than silently under-return.
    if "k_batch" in store.columns:
        k_min = store.agg(F.min("k_batch")).collect()[0][0]
        if k_min is not None and k > k_min:
            raise ValueError(
                f"global k={k} exceeds the store's k_per_batch={k_min}: the "
                "per-batch cut may have discarded global winners — re-run "
                "the stream with k_per_batch >= the global k"
            )
    # One row per doc_id: a re-dropped input file lands the SAME docs
    # in a new ingest_batch (new batch_id → new partition, not
    # replaced), and a doc must not occupy two of the k slots. When the
    # text is unchanged the re-ingested triple is bit-identical (pure
    # function of (doc_id, weights, seed)) — but a re-ingest whose TEXT
    # changed yields a different score and therefore a different
    # sample_key, so a plain distinct() would seat the doc twice. Keep
    # the max-sample_key row per doc_id (a map-side struct-max
    # aggregate, the cluster_keep_best idiom): deterministic, and for
    # the unchanged-text case identical to distinct().
    top = (
        store.select("doc_id", F.struct("sample_key", "score").alias("__s"))
        .groupBy("doc_id")
        .agg(F.max("__s").alias("__s"))
        .select("doc_id", F.col("__s.score").alias("score"),
                F.col("__s.sample_key").alias("sample_key"))
        .orderBy(F.col("sample_key").desc(), "doc_id")
        .limit(k)
    )
    w = Window.orderBy(F.col("sample_key").desc(), "doc_id")
    return top.select(F.row_number().over(w).alias("rk"), "doc_id", "score", "sample_key")


_FEATS_SQL = f"""
  SELECT doc_id, ('0x' || substr(md5('dsir|' || ng), 1, 8))::BIGINT % {N_BUCKETS} AS bkt
  FROM (
    SELECT doc_id, unnest({_W_SQL}) AS ng FROM documents
    UNION ALL
    SELECT doc_id, unnest(list_transform(
      range(1, greatest(len({_W_SQL}), 1)),
      i -> ({_W_SQL})[i] || ' ' || ({_W_SQL})[i+1])) AS ng
    FROM documents
  ) WHERE ng IS NOT NULL
"""


@register(
    "dsir_importance_topk",
    oracle=f"""
WITH feats AS ({_FEATS_SQL}),
raw_c AS (SELECT bkt, count(*) AS n_r FROM feats GROUP BY bkt),
tgt_c AS (
  SELECT bkt, count(*) AS n_t FROM feats f
  JOIN documents d ON f.doc_id = d.doc_id
  WHERE d.source = 'src0' GROUP BY bkt
),
tot AS (
  SELECT (SELECT sum(n_r) FROM raw_c) AS N_r,
         (SELECT coalesce(sum(n_t), 0) FROM tgt_c) AS N_t
),
wt AS (
  SELECT r.bkt,
         CAST(round(ln(
           (CAST(coalesce(t.n_t, 0) + 1 AS DOUBLE) / CAST(tot.N_t + {N_BUCKETS} AS DOUBLE))
           / (CAST(r.n_r + 1 AS DOUBLE) / CAST(tot.N_r + {N_BUCKETS} AS DOUBLE))
         ) * {_SCALE}) AS BIGINT) AS w_int
  FROM raw_c r LEFT JOIN tgt_c t ON r.bkt = t.bkt CROSS JOIN tot
),
sc AS (
  SELECT f.doc_id, sum(w.w_int) AS score_int
  FROM feats f JOIN wt w ON f.bkt = w.bkt GROUP BY f.doc_id
),
scored AS (
  SELECT d.doc_id, coalesce(sc.score_int, 0) AS score_int
  FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id
),
keyed AS (
  SELECT doc_id, score_int,
         score_int + CAST(round(-ln(-ln(
           (('0x' || substr(md5('dsir-g|' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT + 0.5)
           / 4294967296.0
         )) * {_SCALE}) AS BIGINT) AS key_int
  FROM scored
)
SELECT CAST(row_number() OVER (ORDER BY key_int DESC, doc_id) AS INTEGER) AS rk,
       doc_id,
       CAST(score_int AS DOUBLE) / {_SCALE} AS score,
       CAST(key_int AS DOUBLE) / {_SCALE} AS sample_key
FROM keyed
ORDER BY key_int DESC, doc_id
LIMIT 100
""",
)
def dsir_importance_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract query: DSIR selection of the 100 raw documents most
    like the ``source = 'src0'`` target domain, Gumbel-resampled.

    The whole chain — bag featurization, smoothed log-ratio weights,
    integer scoring, seeded Gumbel-top-k — is recomputed independently
    by the DuckDB oracle, so the hash check covers the method end to
    end, not just the plumbing.
    """
    from .. import cache
    from ..sources.readers import spread

    ensure_utc(spark)
    docs = spread(load_table(spark, sf_dir, "documents").select("doc_id", "text", "source"))
    cache.begin_plan()
    # ONE featurization pass feeds both the weight estimate and the
    # per-doc scoring (pin: two consumers in the same plan).
    feats = cache.pin(doc_features(docs))
    target_ids = docs.filter(F.col("source") == "src0").select("doc_id")
    weights = dsir_weights(feats, target_ids)
    scored = dsir_scores(docs, weights, feats=feats)
    return dsir_resample_topk(scored, k=100)
