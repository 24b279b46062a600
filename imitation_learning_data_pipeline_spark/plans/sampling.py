"""Deterministic sampling operators for training-data curation
(BASELINE.json extension; first-class at 100 TB).

Two shapes every large-scale corpus pipeline needs and the reference's
split-assignment hash (utils.py:10-40, materialize_refactored.py:16-26)
generalizes into:

- stratified downsampling: cap over-represented strata (language here)
  at a per-stratum budget, keeping under-represented strata whole;
- mixture sampling: rebalance heterogeneous sources toward equal target
  proportions via per-source acceptance ratios.

Both use the same seeded md5 → unit-interval recipe as the reference's
deterministic split (functions/hashing.py): membership is a pure
function of (doc_id, seed), so re-running on grown data never flips a
previously-sampled document — the property that makes incremental corpus
rebuilds reproducible. NOT ``df.sample``/``randomSplit`` (partition-
dependent, not per-key stable).

Scale shape: per-stratum counts are a tiny aggregate broadcast back onto
the corpus scan; the sample predicate is map-side (one md5 per row, no
shuffle of text). The only full shuffle in either operator is the final
per-stratum count — (stratum, 1) pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import md5_unit_interval
from ..session import ensure_utc
from ..sources import load_table
from .dedup import _W_SQL
from .registry import register

_STRAT_CAP = 100  # per-language document budget
_U_SQL = (
    "('0x' || substr(md5('{seed}' || '|' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT"
    " / 4294967296.0"
)


@register(
    "sample_stratified_docs",
    oracle=f"""
WITH n AS (SELECT lang, count(*) AS n_l FROM documents GROUP BY lang)
SELECT d.doc_id, d.lang
FROM documents d JOIN n USING (lang)
WHERE {_U_SQL.format(seed="strat")} < least(1.0, {_STRAT_CAP}.0 / n.n_l)
""",
)
def sample_stratified_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified downsampling: keep ~cap documents per
    language, strata under the cap kept whole (acceptance 1.0).

    The acceptance fraction cap/n_l and the per-doc u are each a single
    IEEE operation on exact integers, so the u < frac comparison is
    bit-identical across engines — no rounding in the pipeline at all.
    """
    ensure_utc(spark)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    counts = docs.groupBy("lang").agg(F.count("*").alias("n_l"))
    frac = F.least(F.lit(1.0), F.lit(float(_STRAT_CAP)) / F.col("n_l"))
    return (
        docs.join(F.broadcast(counts), "lang")
        .filter(md5_unit_interval("doc_id", seed="strat") < frac)
        .select("doc_id", "lang")
    )


@register(
    "sample_mixture_sources",
    oracle=f"""
WITH c AS (SELECT source, count(*) AS n_s FROM documents GROUP BY source),
t AS (SELECT CAST(sum(n_s) AS DOUBLE) AS total, CAST(count(*) AS BIGINT) AS k FROM c),
a AS (
  SELECT c.source, c.n_s, least(1.0, (t.total / t.k) / c.n_s) AS acc
  FROM c CROSS JOIN t
),
s AS (
  SELECT d.source, count(*) AS n_sampled
  FROM documents d JOIN a ON d.source = a.source
  WHERE {_U_SQL.format(seed="mix")} < a.acc
  GROUP BY d.source
)
SELECT a.source, a.n_s AS n_total,
       coalesce(s.n_sampled, 0) AS n_sampled,
       CAST(round(a.acc * 1000) AS BIGINT) AS accept_milli
FROM a LEFT JOIN s ON a.source = s.source
""",
)
def sample_mixture_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-mixture rebalancing: acceptance ratio min(1, (N/k)/n_s)
    per source targets an equal share of the corpus for each of the k
    sources; over-represented sources are hash-downsampled, small ones
    kept whole.

    accept_milli is emitted as an integer (CAST(round(x*1000) AS BIGINT))
    — the cross-engine-determinism convention from plans/numeric.py: the
    acceptance is a quotient of exact integers, bit-identical on both
    engines, and integer rounding agrees everywhere (both round
    half away from zero for positive values).
    """
    ensure_utc(spark)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    counts = docs.groupBy("source").agg(F.count("*").alias("n_s"))
    totals = counts.agg(
        F.sum("n_s").cast("double").alias("total"),
        F.count("*").cast("long").alias("k"),
    )
    acc = counts.crossJoin(F.broadcast(totals)).select(
        "source",
        "n_s",
        F.least(F.lit(1.0), (F.col("total") / F.col("k")) / F.col("n_s")).alias("acc"),
    )
    sampled = (
        docs.join(F.broadcast(acc.select("source", "acc")), "source")
        .filter(md5_unit_interval("doc_id", seed="mix") < F.col("acc"))
        .groupBy("source")
        .agg(F.count("*").alias("n_sampled"))
    )
    return (
        acc.join(sampled, "source", "left")
        .select(
            "source",
            F.col("n_s").alias("n_total"),
            F.coalesce(F.col("n_sampled"), F.lit(0)).alias("n_sampled"),
            F.round(F.col("acc") * 1000).cast("long").alias("accept_milli"),
        )
    )


# --- sequence packing: concat-then-chunk token layout ------------------------
#
# The standard LLM-pretraining packing: all documents are concatenated in
# a deterministic global order and the token stream is chunked into
# fixed-length training sequences; documents may span a chunk boundary.
# The mapping each doc needs is its global token offset — ONE prefix-sum
# window over (source, doc_id) order — from which its first/last
# sequence ids and intra-sequence position are pure arithmetic. At
# 100 TB this is a single exchange (the window sort); everything else is
# map-side, and the output is the metadata a downstream packer/writer
# consumes — the text itself never moves.

_SEQ_LEN = 512  # tokens per packed training sequence


@register(
    "pack_sequences",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, source, CAST(len({_W_SQL}) AS BIGINT) AS n_tokens
  FROM documents
),
offs AS (
  SELECT doc_id, source, n_tokens,
         CAST(COALESCE(SUM(n_tokens) OVER (
           ORDER BY source, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS start_offset
  FROM toks
)
SELECT doc_id, source, n_tokens, start_offset,
       start_offset // {_SEQ_LEN} AS seq_first,
       CASE WHEN n_tokens = 0 THEN start_offset // {_SEQ_LEN}
            ELSE (start_offset + n_tokens - 1) // {_SEQ_LEN} END AS seq_last,
       start_offset % {_SEQ_LEN} AS pos_in_seq
FROM offs
""",
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-then-chunk sequence packing metadata: per document, its
    global token offset, the packed-sequence ids it spans
    ([seq_first, seq_last] at ``_SEQ_LEN`` tokens/sequence) and its
    position inside its first sequence.

    Token count = whitespace tokens of the normalized text (the
    text_token_count definition); global order = (source, doc_id) —
    deterministic and grouping same-source documents adjacently, the
    usual curriculum-friendly layout.

    The global prefix sum is TWO-LEVEL, never a global window: a naive
    ``Window.orderBy(source, doc_id)`` with no partition key collapses
    the whole corpus into ONE sort partition — the textbook scale
    killer. Instead (1) per-source token totals (one small agg) turn
    into cumulative source base offsets via a window over the tiny
    per-source frame; (2) the per-document prefix sum runs partitioned
    BY source (parallel across sources); global offset = broadcast
    source base + intra-source prefix. Identical output, and the only
    full-data exchange is the per-source window sort.
    """
    from ..functions.text import clean_words

    ensure_utc(spark)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    toks = docs.select(
        "doc_id", "source", F.size(clean_words("text")).cast("long").alias("n_tokens")
    )
    from pyspark.sql.window import Window

    per_source = toks.groupBy("source").agg(F.sum("n_tokens").alias("src_toks"))
    w_src = Window.orderBy("source").rowsBetween(Window.unboundedPreceding, -1)
    bases = per_source.select(
        "source",
        F.coalesce(F.sum("src_toks").over(w_src), F.lit(0)).alias("src_base"),
    )
    w_doc = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = toks.join(F.broadcast(bases), "source").withColumn(
        "start_offset",
        (
            F.col("src_base") + F.coalesce(F.sum("n_tokens").over(w_doc), F.lit(0))
        ).cast("long"),
    )
    end_tok = F.col("start_offset") + F.col("n_tokens") - 1
    return offs.select(
        "doc_id",
        "source",
        "n_tokens",
        "start_offset",
        (F.col("start_offset") / _SEQ_LEN).cast("long").alias("seq_first"),
        F.when(
            F.col("n_tokens") == 0, (F.col("start_offset") / _SEQ_LEN).cast("long")
        )
        .otherwise((end_tok / _SEQ_LEN).cast("long"))
        .alias("seq_last"),
        (F.col("start_offset") % _SEQ_LEN).alias("pos_in_seq"),
    )


# --- exact-size per-group reservoir sample -----------------------------------

_RESV_K = 20  # sample size per group
_RESV_SAFETY = 4.0  # prefilter over-selection factor


@register(
    "sample_reservoir_pergroup",
    oracle=f"""
WITH n AS (SELECT lang, count(*) AS n_l FROM documents GROUP BY lang),
s AS (
  SELECT d.doc_id, d.lang, {_U_SQL.format(seed="resv")} AS u
  FROM documents d JOIN n USING (lang)
  WHERE {_U_SQL.format(seed="resv")} < least(1.0, {_RESV_SAFETY} * {_RESV_K} / n.n_l)
),
r AS (
  SELECT lang, doc_id,
         row_number() OVER (PARTITION BY lang ORDER BY u, doc_id) AS sample_rank
  FROM s
)
SELECT lang, CAST(sample_rank AS BIGINT) AS sample_rank, doc_id
FROM r WHERE sample_rank <= {_RESV_K}
""",
)
def sample_reservoir_pergroup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic exact-size sample: the k documents with the
    smallest seeded hash per language — a distributed reservoir sample
    whose membership is a pure function of (doc_id, seed).

    Scale shape: the naive form (rank every row per group) sorts the
    FULL corpus inside each group. Instead a broadcast per-group count
    sets a map-side prefilter u < safety*k/n_l, so only ~safety*k rows
    per group reach the rank window — the per-group sort is O(k log k)
    independent of group size, and the full-corpus work is one md5 +
    one comparison per row. The prefilter is part of the operator's
    definition (applied identically by the oracle), so the result stays
    deterministic even if a group under-fills the reservoir; with
    safety=4 the under-fill probability is Chernoff-negligible
    (P[Binomial(n, 4k/n) < k] < e^{{-k}}), and tests assert the
    test-scale survivor counts.
    """
    ensure_utc(spark)
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    counts = docs.groupBy("lang").agg(F.count("*").alias("n_l"))
    p = F.least(F.lit(1.0), F.lit(_RESV_SAFETY * _RESV_K) / F.col("n_l"))
    u = md5_unit_interval("doc_id", seed="resv")
    survivors = (
        docs.join(F.broadcast(counts), "lang")
        .withColumn("u", u)
        .filter(F.col("u") < p)
    )
    w = Window.partitionBy("lang").orderBy("u", "doc_id")
    return (
        survivors.withColumn("sample_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("sample_rank") <= _RESV_K)
        .select("lang", "sample_rank", "doc_id")
    )


# --- mixture token-budget planner --------------------------------------------

_MAX_EPOCHS = 4.0  # repeat cap: never recycle a source more than this


@register(
    "mixture_token_budget",
    oracle=f"""
WITH t AS (
  SELECT source, count(*) AS n_docs,
         sum(CAST(len({_W_SQL}) AS BIGINT)) AS n_tokens
  FROM documents GROUP BY source
),
g AS (SELECT CAST(sum(n_tokens) AS DOUBLE) AS total, CAST(count(*) AS BIGINT) AS k FROM t)
SELECT t.source, t.n_docs, CAST(t.n_tokens AS BIGINT) AS n_tokens,
       CAST(round(1000 * least({_MAX_EPOCHS}, (g.total / g.k) / t.n_tokens)) AS BIGINT)
         AS epochs_milli,
       CAST(round(least({_MAX_EPOCHS}, (g.total / g.k) / t.n_tokens) * t.n_tokens) AS BIGINT)
         AS planned_tokens
FROM t CROSS JOIN g
""",
)
def mixture_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixing plan: given an equal-share target mixture over the k
    sources, compute each source's repeat factor (epochs, capped at
    4.0) and the token count it will actually contribute.

    This is the planning aggregate behind every curriculum/mixture
    config: under-represented sources are up-sampled by repetition
    (bounded — repeating data more than ~4 epochs measurably degrades
    models), over-represented ones contribute at most their share.

    Scale shape: one token-count aggregate over the corpus (map-side
    partial sums of one ``size(split())`` per doc — no text shuffled),
    then arithmetic on the k-row result joined back via broadcast. All
    quotients are IEEE doubles of exact integers, so epochs_milli and
    planned_tokens are bit-identical across engines.
    """
    from ..functions.text import clean_words

    ensure_utc(spark)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    per_src = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(clean_words("text")).cast("long")).alias("n_tokens"),
    )
    totals = per_src.agg(
        F.sum("n_tokens").cast("double").alias("total"),
        F.count("*").cast("long").alias("k"),
    )
    epochs = F.least(
        F.lit(_MAX_EPOCHS), (F.col("total") / F.col("k")) / F.col("n_tokens")
    )
    return (
        per_src.crossJoin(F.broadcast(totals))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            F.round(epochs * 1000).cast("long").alias("epochs_milli"),
            F.round(epochs * F.col("n_tokens")).cast("long").alias("planned_tokens"),
        )
    )


_TEMP_ALPHA = 0.3  # mT5/XLM-R default sampling temperature


@register(
    "mixture_temperature_budget",
    oracle=f"""
WITH t AS (
  SELECT source, count(*) AS n_docs,
         sum(CAST(len({_W_SQL}) AS BIGINT)) AS n_tokens
  FROM documents GROUP BY source
),
g AS (
  SELECT CAST(sum(n_tokens) AS DOUBLE) AS total,
         sum(pow(CAST(n_tokens AS DOUBLE), {_TEMP_ALPHA})) AS z
  FROM t
)
SELECT t.source, t.n_docs, CAST(t.n_tokens AS BIGINT) AS n_tokens,
       CAST(round(10000 * pow(CAST(t.n_tokens AS DOUBLE), {_TEMP_ALPHA}) / g.z) AS BIGINT)
         AS q_bp,
       CAST(round(1000 * least({_MAX_EPOCHS},
         (pow(CAST(t.n_tokens AS DOUBLE), {_TEMP_ALPHA}) / g.z * g.total) / t.n_tokens))
         AS BIGINT) AS epochs_milli,
       CAST(round(least({_MAX_EPOCHS},
         (pow(CAST(t.n_tokens AS DOUBLE), {_TEMP_ALPHA}) / g.z * g.total) / t.n_tokens)
         * t.n_tokens) AS BIGINT) AS planned_tokens
FROM t CROSS JOIN g
""",
)
def mixture_temperature_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based mixture reweighting (the mT5/XLM-R standard):
    sampling share q_s ∝ n_s^α flattens the source distribution —
    α=1 keeps natural proportions, α→0 approaches uniform; α=0.3 is
    the published multilingual default. Same k-row planning shape as
    mixture_token_budget (equal-share is the α=0 corner); epochs stay
    capped at {_MAX_EPOCHS} so a tiny source is never recycled into
    memorization territory.

    Scale shape: identical to mixture_token_budget — ONE map-side
    token-count aggregate, then arithmetic on the k-row frame. The only
    floats are one pow per source and the k-term Z sum, integer-
    quantized at output (q in basis points, epochs in milli) per the
    portable-rounding discipline.
    """
    from ..functions.text import clean_words

    ensure_utc(spark)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    per_src = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(clean_words("text")).cast("long")).alias("n_tokens"),
    )
    totals = per_src.agg(
        F.sum("n_tokens").cast("double").alias("total"),
        F.sum(F.pow(F.col("n_tokens").cast("double"), F.lit(_TEMP_ALPHA))).alias("z"),
    )
    q = F.pow(F.col("n_tokens").cast("double"), F.lit(_TEMP_ALPHA)) / F.col("z")
    epochs = F.least(F.lit(_MAX_EPOCHS), (q * F.col("total")) / F.col("n_tokens"))
    return (
        per_src.crossJoin(F.broadcast(totals))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            F.round(10000 * q).cast("long").alias("q_bp"),
            F.round(epochs * 1000).cast("long").alias("epochs_milli"),
            F.round(epochs * F.col("n_tokens")).cast("long").alias("planned_tokens"),
        )
    )


def apply_mixture_plan(
    docs: DataFrame,
    plan: DataFrame,
    id_col: str = "doc_id",
    source_col: str = "source",
    seed: str = "mixmat",
) -> DataFrame:
    """Materialize a mixture plan: the missing step between
    :func:`mixture_token_budget` (which says "web at 1.0 epochs, code at
    3.2") and training data on disk. Each document is replicated
    ``floor(epochs)`` times plus one more with probability
    ``frac(epochs)``, decided by the corpus's seeded md5 unit-interval
    recipe — so the materialized mix is a pure function of (doc id,
    seed): re-runs are byte-reproducible and a grown corpus never flips
    a previous doc's copy count.

    ``plan`` needs (source, epochs_milli) — exactly the planner's
    output. Output adds ``epoch_idx`` (0-based copy number) so a
    downstream packer can interleave epochs instead of concatenating
    them.

    Scale shape: one broadcast join (plan is k rows) + a map-side
    explode of at most ⌈epochs⌉ copies — the only data growth is the
    intended repetition, there is no shuffle at all; feed the result to
    export_shards/pack_sequences for layout.
    """
    e = plan.select(
        source_col, (F.col("epochs_milli") / 1000.0).alias("__epochs")
    )
    j = docs.join(F.broadcast(e), source_col)
    full = F.floor("__epochs").cast("int")
    frac = F.col("__epochs") - F.floor("__epochs")
    extra = (md5_unit_interval(id_col, seed=seed) < frac).cast("int")
    return (
        j.withColumn("__n", full + extra)
        .filter(F.col("__n") > 0)
        .withColumn(
            "epoch_idx", F.explode(F.sequence(F.lit(0), F.col("__n") - 1))
        )
        .drop("__epochs", "__n")
    )


@register(
    "mixture_materialize",
    oracle=f"""
WITH t AS (
  SELECT source, sum(CAST(len({_W_SQL}) AS BIGINT)) AS n_tokens
  FROM documents GROUP BY source
),
g AS (SELECT CAST(sum(n_tokens) AS DOUBLE) AS total, CAST(count(*) AS BIGINT) AS k FROM t),
p AS (
  SELECT t.source,
         CAST(round(1000 * least({_MAX_EPOCHS}, (g.total / g.k) / t.n_tokens)) AS BIGINT)
           / 1000.0 AS epochs
  FROM t CROSS JOIN g
),
c AS (
  SELECT d.doc_id, d.source,
         CAST(floor(p.epochs) AS BIGINT)
         + CASE WHEN {_U_SQL.format(seed="mixmat")} < p.epochs - floor(p.epochs)
                THEN 1 ELSE 0 END AS n_copies
  FROM documents d JOIN p USING (source)
),
x AS (
  SELECT source, doc_id, unnest(range(n_copies)) AS epoch_idx FROM c
  WHERE n_copies > 0
)
SELECT source, CAST(epoch_idx AS BIGINT) AS epoch_idx,
       count(*) AS n_rows, count(DISTINCT doc_id) AS n_docs
FROM x GROUP BY source, epoch_idx
""",
)
def mixture_materialize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Library/oracle wrapper: materialize the equal-share token-budget
    plan over documents and report the replication structure — rows and
    distinct docs per (source, epoch copy). Checks the whole chain
    planner → copy counts → explode against an independent engine."""
    ensure_utc(spark)
    plan = mixture_token_budget(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    out = apply_mixture_plan(docs, plan.select("source", "epochs_milli"))
    return out.groupBy("source", F.col("epoch_idx").cast("long").alias("epoch_idx")).agg(
        F.count("*").alias("n_rows"),
        F.count_distinct("doc_id").alias("n_docs"),
    )


# --- leakage-safe splits ------------------------------------------------------


def _leakage_oracle() -> str:
    from .dedup import _CORPUS_SQL, _minhash_oracle

    u = (
        "('0x' || substr(md5('split6' || '|' || CAST(split_key AS VARCHAR)), 1, 8))"
        "::BIGINT / 4294967296.0"
    )
    return f"""
WITH RECURSIVE mh AS MATERIALIZED (
  {_minhash_oracle().strip()}
),
e AS (
  SELECT doc_a AS a, doc_b AS b FROM mh
  UNION ALL
  SELECT doc_b AS a, doc_a AS b FROM mh
),
nodes AS (SELECT DISTINCT a AS doc FROM e),
r(doc, reach) AS (
  SELECT doc, doc FROM nodes
  UNION
  SELECT r.doc, e.b FROM r JOIN e ON r.reach = e.a
),
comp AS (SELECT doc, min(reach) AS cluster_id FROM r GROUP BY doc),
corpus AS ({_CORPUS_SQL}),
keyed AS (
  SELECT c.doc_id, coalesce(comp.cluster_id, c.doc_id) AS split_key
  FROM corpus c LEFT JOIN comp ON c.doc_id = comp.doc
)
SELECT doc_id, split_key,
       CASE WHEN {u} < 0.8 THEN 'train'
            WHEN {u} < 0.9 THEN 'val'
            ELSE 'test' END AS split
FROM keyed
"""


def leakage_safe_splits(
    docs: DataFrame,
    train: float = 0.8,
    val: float = 0.1,
    test: float = 0.1,
    seed: str = "split6",
    threshold: float = 0.5,
) -> DataFrame:
    """Generic leakage-safe split assignment over ANY ``(doc_id long,
    text string)`` frame: (doc_id, split_key, split) where split_key is
    the near-dup cluster canonical (minhash-LSH connected component,
    own id for singletons) — near-duplicates always share a split."""
    from ..functions.hashing import split_assign
    from .dedup import connected_components, minhash_pairs

    comp = connected_components(
        minhash_pairs(docs, threshold=threshold).select("doc_a", "doc_b")
    ).select("doc_id", "cluster_id")
    keyed = docs.select("doc_id").join(comp, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("split_key"),
    )
    return keyed.select(
        "doc_id",
        "split_key",
        split_assign(
            F.col("split_key"), train=train, val=val, test=test, seed=seed
        ).alias("split"),
    )


# --- deterministic shuffled shard export -------------------------------------

_N_SHARDS = 16
_SHARD_SEED = "shard7"
_ORDER_SEED = "order7"


def shard_plan(
    docs: DataFrame,
    n_shards: int = _N_SHARDS,
    id_col: str = "doc_id",
    shard_seed: str = _SHARD_SEED,
    order_seed: str = _ORDER_SEED,
) -> DataFrame:
    """Deterministic global-shuffle plan for training export:
    ``(doc_id, shard, shard_rank)`` where shard = ⌊u₁·n⌋ and shard_rank
    is the doc's position inside its shard under a SECOND seeded hash —
    together a reproducible random permutation of the corpus, sharded.

    Training ingest wants the corpus in random order but the pipeline
    wants that order to be a pure function of (doc_id, seed): re-exports
    after an upstream fix produce the identical byte layout, and two
    sites exporting independently agree. ``df.orderBy(rand())`` gives
    neither; a global ``orderBy`` over 100 TB is also the plan you never
    want. This shape is ONE hash-shuffle on the shard key plus an
    in-shard sort of corpus/n rows per task — no global sort, no driver
    involvement, shard sizes balanced by the uniformity of md5.
    """
    from pyspark.sql.window import Window

    u1 = md5_unit_interval(id_col, seed=shard_seed)
    u2 = md5_unit_interval(id_col, seed=order_seed)
    w = Window.partitionBy("shard").orderBy("u2", id_col)
    return (
        docs.select(id_col, u1.alias("u1"), u2.alias("u2"))
        .withColumn("shard", F.floor(F.col("u1") * n_shards).cast("long"))
        .withColumn("shard_rank", F.row_number().over(w).cast("long"))
        .select(id_col, "shard", "shard_rank")
    )


def export_shards(
    df: DataFrame,
    path: str,
    n_shards: int = _N_SHARDS,
    id_col: str = "doc_id",
    shard_seed: str = _SHARD_SEED,
    order_seed: str = _ORDER_SEED,
) -> DataFrame:
    """Write ``df`` as a deterministically shuffled, sharded training
    export: ``shard=N`` Hive partitions, one file per shard, rows inside
    each file in the :func:`shard_plan` order. The export is committed
    whole (``fsio.commit_frame``); returns a read of it.

    One ``repartition(n, shard)`` shuffle + ``sortWithinPartitions`` —
    partitionBy then streams each task's (already sorted) rows into its
    shard file, so file order == plan order without any window or rank
    materialization. Deterministic end to end: same input + seeds →
    byte-stable shard membership and row order.
    """
    from ..pipeline.fsio import commit_frame

    u1 = md5_unit_interval(id_col, seed=shard_seed)
    u2 = md5_unit_interval(id_col, seed=order_seed)
    ordered = (
        df.withColumn("shard", F.floor(u1 * n_shards).cast("long"))
        .withColumn("__u2", u2)
        .repartition(n_shards, F.col("shard"))
        .sortWithinPartitions("shard", "__u2", id_col)
        .drop("__u2")
    )
    return commit_frame(ordered, path, partition_by=("shard",))


@register(
    "export_shard_plan",
    oracle=f"""
WITH u AS (
  SELECT doc_id,
         {_U_SQL.format(seed=_SHARD_SEED)} AS u1,
         {_U_SQL.format(seed=_ORDER_SEED)} AS u2
  FROM documents
)
SELECT doc_id,
       CAST(floor(u1 * {_N_SHARDS}) AS BIGINT) AS shard,
       CAST(row_number() OVER (
         PARTITION BY CAST(floor(u1 * {_N_SHARDS}) AS BIGINT)
         ORDER BY u2, doc_id
       ) AS BIGINT) AS shard_rank
FROM u
""",
)
def export_shard_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Library/oracle wrapper: :func:`shard_plan` over the documents
    table. Both hashes are the repo's md5→top-32-bits→unit-interval
    recipe (functions/hashing.py), so shard and rank are bit-identical
    across engines — the whole export permutation is oracle-checked."""
    ensure_utc(spark)
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return shard_plan(docs)


@register("split_leakage_safe", oracle=_leakage_oracle())
def split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test assignment that cannot leak near-duplicates across
    splits: the split key is the near-dup CLUSTER canonical (min doc_id
    of the minhash-LSH connected component), falling back to the doc's
    own id for singletons — so a test document's paraphrase can never
    sit in train.

    This is the composition eval-integrity work actually requires
    (dedup alone keeps ONE copy; leakage-safe splitting keeps ALL copies
    but pins them to one split — e.g. when near-dups are legitimate
    distinct samples, augmentations, or repeated episodes).

    Scale shape: the components frame is duplicate-pairs-sized (tiny vs
    corpus); it left-joins back to the corpus on doc_id (AQE broadcasts
    it in practice) and the split itself is one map-side md5 per row —
    the same seeded pure-function recipe as split_assign, so membership
    never flips as the corpus grows (F5's growth-stability property
    lifted to cluster granularity).
    """
    from .dedup import _corpus

    return leakage_safe_splits(_corpus(spark, sf_dir))


# --- perplexity filtering: model scores → bucket-stratified sampling ---------
#
# The CCNet/LLaMA-style quality pipeline: score every document with a
# (language-model) perplexity, bucket the corpus by score, and sample
# each bucket at its own rate — keep the fluent middle, thin the
# too-clean head (boilerplate) and the noisy tail. Two layers:
#
# - ``score_with_model`` is the REAL-MODEL plug point: Arrow-batched
#   ``mapInPandas`` over (doc_id, text) partitions, one scorer call per
#   batch. No LM runtime ships in this container, so the default scorer
#   RAISES NotImplementedError (the multimodal-decode pattern) — the
#   Spark plumbing (schema, batching, partition parallelism) is real
#   and tested with an injected scorer.
# - ``proxy_perplexity_score`` is the deterministic stand-in used by
#   the oracle-checked library query: the md5-of-content unit interval
#   — content-dependent, engine-mirrorable, and uniform on [0,1) so
#   fixed-width buckets are well-populated.
#
# Scale shape: scoring is map-side (model inference parallelizes per
# partition); bucketing is a pure projection; the per-bucket acceptance
# is the repo's seeded-hash predicate — the ONLY shuffle anywhere is
# whatever the caller does with the result.

_PPL_BUCKETS = 10
#: per-bucket keep rates, head → tail (CCNet shape: thin both extremes)
_PPL_KEEP_RATES = [0.1, 0.5, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 0.5, 0.1]


def score_with_model(
    docs: DataFrame,
    scorer=None,
    score_col: str = "ppl_score",
    batch_size: int = 512,
) -> DataFrame:
    """Attach a model score to every (doc_id, text) row via Arrow-batched
    ``mapInPandas``: ``scorer(texts: pd.Series) -> pd.Series[float]`` is
    called once per ≤batch_size slice, so a real scorer amortizes model
    setup per batch and inference parallelism == partition parallelism.

    No scorer → NotImplementedError: language-model runtimes are not
    available in this environment; inject one (or use
    :func:`proxy_perplexity_score` for a deterministic stand-in).
    """
    if scorer is None:
        raise NotImplementedError(
            "score_with_model needs a scorer callable (no LM runtime is "
            "bundled); use proxy_perplexity_score for a deterministic "
            "hash-based stand-in"
        )
    import pandas as pd  # noqa: F401 — document the batch contract
    from pyspark.sql.types import DoubleType, StructField, StructType

    fields = docs.schema.fieldNames()
    # StructType.add MUTATES in place — building the output schema from
    # docs.schema.add() would corrupt the caller's frame (its cached
    # schema object would grow a phantom score column); construct fresh
    out_schema = StructType(
        list(docs.schema.fields) + [StructField(score_col, DoubleType())]
    )

    def run(batches):
        for pdf in batches:
            for lo in range(0, len(pdf), batch_size):
                chunk = pdf.iloc[lo : lo + batch_size].copy()
                chunk[score_col] = scorer(chunk["text"]).astype("float64")
                yield chunk

    return docs.select(*fields).mapInPandas(run, out_schema)


def proxy_perplexity_score(col, seed: str = "ppl"):
    """Deterministic content-hash stand-in for a perplexity score:
    md5(seed || text) → u ∈ [0, 1). Uniform by construction (every
    fixed-width bucket well-populated) and mirrorable in any engine."""
    return md5_unit_interval(col, seed)


def perplexity_bucket_sample(
    scored: DataFrame,
    score_col: str = "ppl_score",
    n_buckets: int = _PPL_BUCKETS,
    keep_rates: list[float] | None = None,
    seed: str = "pplkeep",
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """Bucket-stratified sampling over a scored corpus: bucket =
    ⌊score·n_buckets⌋ (scores in [0,1)), keep iff the seeded per-doc
    hash u < keep_rates[bucket]. Deterministic per (doc_id, seed) — a
    re-run on grown data never flips a kept document."""
    rates = keep_rates if keep_rates is not None else _PPL_KEEP_RATES
    if len(rates) != n_buckets:
        raise ValueError(
            f"keep_rates has {len(rates)} entries for {n_buckets} buckets"
        )
    bucket = F.least(
        F.floor(F.col(score_col) * n_buckets).cast("int"), F.lit(n_buckets - 1)
    )
    u = md5_unit_interval("doc_id", seed)
    rate = F.element_at(F.array(*[F.lit(r) for r in rates]), bucket + 1)
    return (
        scored.withColumn("bucket", bucket)
        .filter(u < rate)
        .select("doc_id", *passthrough, "bucket")
    )


_PPL_SQL = (
    "('0x' || substr(md5('ppl' || '|' || text), 1, 8))::BIGINT / 4294967296.0"
)


@register(
    "sample_perplexity_buckets",
    oracle=f"""
WITH scored AS (
  SELECT doc_id,
         least(CAST(floor({_PPL_SQL} * {_PPL_BUCKETS}) AS INTEGER),
               {_PPL_BUCKETS - 1}) AS bucket
  FROM documents
)
SELECT doc_id, bucket
FROM scored
WHERE {_U_SQL.format(seed="pplkeep")}
      < [{", ".join(str(r) for r in _PPL_KEEP_RATES)}][bucket + 1]
""",
)
def sample_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Library/oracle wrapper: proxy-scored perplexity bucketing + the
    CCNet-shaped per-bucket acceptance over the documents table. The
    proxy score is the md5-of-content unit interval, so the full
    score→bucket→accept chain is oracle-checked; swapping in a real LM
    via :func:`score_with_model` changes only the score column."""
    ensure_utc(spark)
    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id", proxy_perplexity_score("text").alias("ppl_score")
    )
    return perplexity_bucket_sample(scored)


# --- curriculum ordering: global difficulty rank without a global sort -------
#
# Curriculum training consumes the corpus easy → hard with a shuffle
# WITHIN each difficulty level. That is a global contiguous rank over
# (level, seeded-hash) — and a naive `row_number() OVER (ORDER BY ...)`
# collapses 100 TB into ONE sort partition. The two-level prefix-sum
# idiom (pack_sequences) fixes that but parallelizes only across
# levels — ~10 curriculum levels would still sort a tenth of the corpus
# per task. Here the second key SPREADS: shard = ⌊u·S⌋ is monotonic in
# the seeded hash u, so ranking within (level, shard) and offsetting by
# cumulative (level, shard) counts reproduces the exact global
# (level, u, doc_id) rank with level×S-way parallelism. The only
# full-data exchange is the (level, shard)-partitioned window sort;
# the base offsets are a level×S-row driver-side window.

_CURR_SHARDS = 64


def curriculum_plan(
    leveled: DataFrame,
    level_col: str = "level",
    n_shards: int = _CURR_SHARDS,
    seed: str = "curr",
) -> DataFrame:
    """Global curriculum rank 0..N−1 for ANY ``(doc_id, level)`` frame:
    ordered by (level ASC, seeded md5 hash, doc_id) — easy levels
    first, deterministic shuffle within a level — with no global sort
    anywhere in the plan."""
    from pyspark.sql.window import Window

    u = md5_unit_interval("doc_id", seed)
    keyed = leveled.select(
        "doc_id",
        F.col(level_col).alias("level"),
        u.alias("u"),
        F.floor(u * n_shards).cast("int").alias("shard"),
    )
    counts = keyed.groupBy("level", "shard").agg(F.count("*").alias("n"))
    w_base = Window.orderBy("level", "shard").rowsBetween(
        Window.unboundedPreceding, -1
    )
    bases = counts.select(
        "level",
        "shard",
        F.coalesce(F.sum("n").over(w_base), F.lit(0)).alias("base"),
    )
    w_rank = Window.partitionBy("level", "shard").orderBy("u", "doc_id")
    return (
        keyed.join(F.broadcast(bases), ["level", "shard"])
        .withColumn(
            "curriculum_rank",
            (F.col("base") + F.row_number().over(w_rank) - 1).cast("long"),
        )
        .select("doc_id", "level", "curriculum_rank")
    )


@register(
    "curriculum_order_docs",
    oracle=f"""
WITH leveled AS (
  SELECT doc_id,
         least(9, CAST(floor(len({_W_SQL}) / 25) AS BIGINT)) AS level
  FROM documents
)
SELECT doc_id, level,
       CAST(row_number() OVER (
         ORDER BY level,
                  {_U_SQL.format(seed="curr")},
                  doc_id
       ) - 1 AS BIGINT) AS curriculum_rank
FROM leveled
""",
)
def curriculum_order_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Library/oracle wrapper: word-count difficulty levels (25-word
    bands capped at level 9) → the full global curriculum rank,
    hash-checked against DuckDB's single-sort row_number — proving the
    sharded two-level plan reproduces the exact global order."""
    from ..functions.text import clean_words

    ensure_utc(spark)
    docs = load_table(spark, sf_dir, "documents")
    leveled = docs.select(
        "doc_id",
        F.least(
            F.lit(9), F.floor(F.size(clean_words("text")) / 25)
        )
        .cast("long")
        .alias("level"),
    )
    return curriculum_plan(leveled)


# --- UniMax mixture allocation ------------------------------------------------
#
# UniMax (Chung et al., 2023, arXiv:2304.09151): allocate a total token
# budget across languages as UNIFORMLY as possible subject to a per-
# language epoch cap — the published answer to temperature sampling's
# two failure modes (low T starves tail languages, high T over-epochs
# them). The allocation is exactly water-filling: alloc_l = min(cap_l,
# theta) with one global water level theta chosen so the budget is
# spent. Everything below is INTEGER arithmetic (caps, cumulative sums,
# one DIV per frame), so the result is bit-identical across engines —
# no float quantization point needed.


def unimax_allocation(
    counts: DataFrame,
    group_col: str = "lang",
    epochs: int = 1,
    budget: int | None = None,
    budget_frac: tuple[int, int] | None = None,
) -> DataFrame:
    """(group, n_tokens) → (group, n_tokens, cap, alloc, capped).

    ``cap = epochs·n_tokens`` (the UniMax epoch bound); ``alloc =
    min(cap, theta)`` with the integer water level ``theta = (B −
    Σ capped caps) DIV (k − #capped)``. The capped prefix is found by
    the sorted-caps criterion ``cap_i·(k−i+1) ≤ B − cum_{i−1}``
    (prefix-monotone for ascending caps — the standard water-filling
    argument), all in exact BIGINT comparisons.

    ``budget`` is an absolute token count; ``budget_frac=(num, den)``
    derives ``B = (Σ n_tokens · num) DIV den`` from the corpus itself.

    Scale shape (100 TB): the caller's ``counts`` is the one corpus
    aggregate; everything here is a k-row planning frame (k =
    #languages) — the row_number window is unpartitioned over k
    driver-bound rows, the documented top-k idiom, and the two 1-row
    totals broadcast.
    """
    from pyspark.sql.window import Window

    if (budget is None) == (budget_frac is None):
        raise ValueError("unimax_allocation: pass exactly one of budget / budget_frac")
    c = counts.select(
        F.col(group_col).alias("__grp"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
    ).withColumn("cap", (F.col("n_tokens") * epochs).cast("long"))
    tot = c.agg(
        F.sum("n_tokens").alias("__N"), F.count("*").cast("long").alias("__k")
    )
    if budget is not None:
        tot = tot.withColumn("__B", F.lit(int(budget)).cast("long"))
    else:
        num, den = budget_frac
        tot = tot.withColumn("__B", F.expr(f"(__N * {int(num)}) DIV {int(den)}"))
    j = c.crossJoin(F.broadcast(tot))
    w = Window.orderBy("cap", "__grp")
    j = j.withColumn("__i", F.row_number().over(w)).withColumn(
        "__cum", F.sum("cap").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    capped = (F.col("cap") * (F.col("__k") - F.col("__i") + 1)) <= (
        F.col("__B") - (F.col("__cum") - F.col("cap"))
    )
    j = j.withColumn("__capped", capped)
    s = j.agg(
        F.sum(F.col("__capped").cast("long")).alias("__istar"),
        F.sum(F.when(F.col("__capped"), F.col("cap")).otherwise(0)).alias("__cumstar"),
    )
    out = j.crossJoin(F.broadcast(s))
    theta = F.expr("(__B - __cumstar) DIV (__k - __istar)")
    alloc = F.when(F.col("__istar") == F.col("__k"), F.col("cap")).otherwise(
        F.least(F.col("cap"), theta)
    )
    return out.select(
        F.col("__grp").alias(group_col),
        "n_tokens",
        "cap",
        alloc.cast("long").alias("alloc"),
        F.col("__capped").alias("capped"),
    )


@register(
    "mixture_unimax_budget",
    oracle=f"""
WITH t AS (
  SELECT lang, sum(CAST(len({_W_SQL}) AS BIGINT)) AS n_tokens
  FROM documents GROUP BY lang
),
g AS (SELECT sum(n_tokens) AS N, CAST(count(*) AS BIGINT) AS k FROM t),
b AS (SELECT (N * 9) // 10 AS B, k FROM g),
o AS (
  SELECT t.lang, t.n_tokens, t.n_tokens AS cap,
         row_number() OVER (ORDER BY t.n_tokens, t.lang) AS i,
         sum(t.n_tokens) OVER (ORDER BY t.n_tokens, t.lang
                               ROWS UNBOUNDED PRECEDING) AS cum
  FROM t
),
c AS (
  SELECT o.*, b.B, b.k,
         CASE WHEN cap * (k - i + 1) <= B - (cum - cap) THEN 1 ELSE 0 END AS cf
  FROM o CROSS JOIN b
),
s AS (
  SELECT sum(cf) AS istar,
         coalesce(sum(CASE WHEN cf = 1 THEN cap ELSE 0 END), 0) AS cumstar
  FROM c
)
SELECT c.lang, CAST(c.n_tokens AS BIGINT) AS n_tokens,
       CAST(c.cap AS BIGINT) AS cap,
       CAST(CASE WHEN s.istar = c.k THEN c.cap
                 ELSE least(c.cap, (c.B - s.cumstar) // (c.k - s.istar))
            END AS BIGINT) AS alloc,
       c.cf = 1 AS capped
FROM c CROSS JOIN s
""",
)
def mixture_unimax_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniMax plan over the documents table: per-language clean-token
    counts, epoch cap 1, budget = 90% of the corpus (a binding budget on
    this data — the largest language gets water-leveled, the tail
    languages keep their full cap, the behavior the paper is for)."""
    from ..functions.text import clean_words

    ensure_utc(spark)
    docs = load_table(spark, sf_dir, "documents").select("lang", "text")
    counts = docs.groupBy("lang").agg(
        F.sum(F.size(clean_words("text")).cast("long")).alias("n_tokens")
    )
    return unimax_allocation(counts, group_col="lang", epochs=1, budget_frac=(9, 10))


def split_leakage_audit(
    docs: DataFrame, splits: DataFrame, threshold: float = 0.5
) -> DataFrame:
    """MEASURE what :func:`leakage_safe_splits` promises by
    construction: per ordered split pair, the number of near-duplicate
    document pairs (minhash-LSH Jaccard ≥ ``threshold``) that CROSS the
    split boundary → ``(split_a, split_b, n_cross_pairs)``, plus a
    ("__total__", "__total__", n) row so an empty-cross audit still
    proves the pair search ran. A leakage-safe assignment audits to
    zero cross rows; a naive per-doc hash split does not (pytest pins
    both directions).

    Run this against ANY split assignment (splits = (doc_id, split))
    before training — it is the release gate for "the test set does
    not paraphrase the training set".

    Scale shape: the pair frame is the already-banded minhash search
    (never all-pairs); the split table joins onto it by doc_id twice —
    pairs are sparse (near-dups only), so both joins are
    pair-frame-sized, and the audit aggregate is ≤ 9+1 rows.
    """
    from .dedup import minhash_pairs

    pairs = minhash_pairs(docs, threshold=threshold).select("doc_a", "doc_b")
    sa = splits.select(
        F.col("doc_id").alias("doc_a"), F.col("split").alias("split_a")
    )
    sb = splits.select(
        F.col("doc_id").alias("doc_b"), F.col("split").alias("split_b")
    )
    # LEFT joins: a pair member MISSING from the split assignment is a
    # broken gate input, not a pair to silently drop — inner joins
    # would erase exactly the leaked pair whose test doc lacks a split
    # row. Unassigned sides surface as the "__unassigned__" label and
    # always count as crossing (the audit cannot certify them).
    tagged = pairs.join(sa, "doc_a", "left").join(sb, "doc_b", "left")
    unassigned = F.col("split_a").isNull() | F.col("split_b").isNull()
    cross = (
        tagged.filter(unassigned | (F.col("split_a") != F.col("split_b")))
        .select(
            F.coalesce("split_a", F.lit("__unassigned__")).alias("split_a"),
            F.coalesce("split_b", F.lit("__unassigned__")).alias("split_b"),
        )
        .groupBy("split_a", "split_b")
        .agg(F.count("*").alias("n_cross_pairs"))
    )
    total = tagged.agg(F.count("*").alias("n_cross_pairs")).select(
        F.lit("__total__").alias("split_a"),
        F.lit("__total__").alias("split_b"),
        "n_cross_pairs",
    )
    return cross.unionByName(total)
