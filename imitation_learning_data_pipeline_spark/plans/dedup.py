"""Deduplication operators over the documents corpus (BASELINE.json
extension; first-class at 100 TB training-data scale).

Five families: exact (normalized-hash groupBy), MinHash+LSH banding,
SimHash, n-gram Jaccard via inverted index, embedding-cosine near-dup.
All are pure DataFrame/SQL compositions — hashes are md5 (engine-portable,
JVM-side) so every stage is oracle-checkable.

Because the synthetic corpus has no natural duplicates, each query first
builds ``corpus = documents ∪ planted copies`` — (a) exact-modulo-
normalization copies (uppercased + punctuation noise) and (b) near-dup
copies (a short tail appended) — deterministic on both engines, so dedup
has real positives to find and the two families separate: exact dedup
must find only (a); MinHash/Jaccard find both.

Scale notes: every family avoids all-pairs comparison. Exact dedup is one
hash-agg; MinHash/LSH compares only band-bucket collisions; the inverted
index joins on shingle with a document-frequency cap (hot-shingle
dropping — else one ubiquitous shingle produces O(f²) candidate pairs);
embedding near-dup blocks on label.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import cache
from ..functions.text import clean_words, normalize_text, shingles_of_words
from ..functions.rounding import quantize
from ..session import ensure_utc
from ..sources import load_table
from .registry import register

# Shared corpus-with-planted-duplicates. Plant (a): case/punct variant →
# identical after normalization. Plant (b): appended tail → near-dup.
_CORPUS_SQL = """
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, upper(text) || ' !!!' AS text
  FROM documents WHERE doc_id % 10 = 0
  UNION ALL
  SELECT doc_id + 2000000 AS doc_id, text || ' tail marker words appended here' AS text
  FROM documents WHERE doc_id % 10 = 5
"""

_NORM_SQL = (
    "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),"
    " ' +', ' ', 'g'))"
)
_W_SQL = f"list_filter(string_split({_NORM_SQL}, ' '), x -> x <> '')"


def exploded_shingles(docs: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, s): one row per DISTINCT word n-gram shingle per doc —
    the shared first stage of every shingle-based plan here (minhash,
    simhash, ngram-jaccard, decontam, bloom, substring spans). One
    definition so a tokenization/shingling change can't drift between
    copies."""
    return docs.select("doc_id", clean_words("text").alias("__w")).select(
        "doc_id",
        F.explode(F.array_distinct(shingles_of_words(F.col("__w"), n))).alias("s"),
    )


def _shingle_sql(n: int) -> str:
    """DuckDB expression for distinct word n-gram shingles.

    1-based inclusive list slicing: i runs 1..len−n+1, slice [i : i+n−1].
    """
    return (
        f"list_distinct(list_filter(list_transform("
        f"range(1, greatest(len({_W_SQL}) - {n - 2}, 1)), "
        f"i -> array_to_string(({_W_SQL})[i:i+{n - 1}], ' ')), x -> x <> ''))"
    )


def _corpus(spark: SparkSession, sf_dir: str, bytes_per_task: int | None = None) -> DataFrame:
    from ..sources.readers import spread

    ensure_utc(spark)
    # spread(): the corpus arrives as 1-3 parquet splits but every row
    # feeds shingling + seeded hashing — repartition to all cores first.
    # Callers with heavy per-row compute (minhash: one md5 digest per
    # shingle) pass a finer bytes_per_task to engage every core; the
    # default sizing favors fewer, JIT-warm tasks (see spread()).
    kw = {"bytes_per_task": bytes_per_task} if bytes_per_task else {}
    docs = spread(load_table(spark, sf_dir, "documents").select("doc_id", "text"), **kw)
    exact = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.upper("text"), F.lit(" !!!")).alias("text"),
    )
    near = docs.filter(F.col("doc_id") % 10 == 5).select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" tail marker words appended here")).alias("text"),
    )
    return docs.unionByName(exact).unionByName(near)


# --- exact dedup: hash-groupBy ----------------------------------------------

@register(
    "dedup_exact",
    oracle=f"""
WITH corpus AS ({_CORPUS_SQL}),
hashed AS (SELECT doc_id, md5({_NORM_SQL}) AS content_hash FROM corpus)
SELECT content_hash, count(*) AS n_copies, min(doc_id) AS canonical_doc
FROM hashed GROUP BY content_hash HAVING count(*) > 1
""",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate groups on normalized content hash.

    One hash-aggregate; at 100 TB this shuffles only (hash, doc_id) pairs,
    never text. Keep-min-id canonical selection is an agg, not a window.
    Must find exactly the planted case/punct variants — never the
    tail-appended near-dups.
    """
    corpus = _corpus(spark, sf_dir)
    return (
        corpus.select("doc_id", F.md5(normalize_text("text")).alias("content_hash"))
        .groupBy("content_hash")
        .agg(F.count("*").alias("n_copies"), F.min("doc_id").alias("canonical_doc"))
        .filter(F.col("n_copies") > 1)
    )


# --- MinHash + LSH banding ---------------------------------------------------
#
# Degeneracy lesson (found the hard way at sf0.1): with 2-word shingles
# over this corpus's tiny vocabulary, every document's min-hash collapses
# onto the few globally-smallest shingle hashes → band buckets become
# mega-buckets → the candidate self-join goes quadratic. Three guards,
# all standard web-dedup practice:
#   1. 3-word shingles (larger shingle universe, spread-out minima);
#   2. 4 rows per band (a bucket key is 4 independent minima — the
#      collision probability for dissimilar docs is j⁴);
#   3. an explicit bucket-size cap: buckets holding > _BUCKET_CAP docs
#      are degenerate by construction and are skipped for candidate
#      generation (they would contribute O(cap²) junk pairs each).

_N_HASHES = 12
_BAND_SIZE = 4  # → 3 bands; P(candidate) = 1−(1−j⁴)³
_BUCKET_CAP = 100

# ONE md5 per shingle (was 3 through r5 — the digest was the dominant
# task-CPU of the whole minhash plan, r5 verdict item 8): the 128-bit
# digest's first two 32-bit lanes h1, h2 seed the Kirsch-Mitzenmacher
# two-hash family gᵢ(x) = (h1 + i·h2) mod 2³², a published-standard way
# to derive k hash functions from two (Kirsch & Mitzenmacher, ESA'06 —
# "Less Hashing, Same Performance"); integer arithmetic is exactly
# portable between Spark and DuckDB, so the oracle stays bit-identical.
_MH_MOD = 1 << 32


def _minhash_oracle() -> str:
    mh_cols = ",\n         ".join(
        f"list_aggregate(list_transform(hd, x -> "
        f"(('0x' || substr(x, 1, 8))::BIGINT + {i} * ('0x' || substr(x, 9, 8))::BIGINT)"
        f" % {_MH_MOD}), 'min') AS mh{i}"
        for i in range(_N_HASHES)
    )
    band_rows = []
    for b in range(_N_HASHES // _BAND_SIZE):
        parts = " || '|' || ".join(
            f"mh{b * _BAND_SIZE + r}::VARCHAR" for r in range(_BAND_SIZE)
        )
        band_rows.append(f"SELECT doc_id, {b} AS band, md5({parts}) AS bucket FROM sigs")
    bands_sql = "\n  UNION ALL\n  ".join(band_rows)
    return f"""
WITH corpus AS ({_CORPUS_SQL}),
sets AS (
  SELECT doc_id, {_shingle_sql(3)} AS sh FROM corpus
),
hashed AS (
  SELECT doc_id, sh, list_transform(sh, s -> md5(s)) AS hd
  FROM sets WHERE len(sh) > 0
),
sigs AS (
  SELECT doc_id, sh,
         {mh_cols}
  FROM hashed
),
bands AS (
  {bands_sql}
),
bucket_sizes AS (
  SELECT band, bucket, count(*) AS n FROM bands GROUP BY band, bucket
),
ok_bands AS (
  SELECT b.doc_id, b.band, b.bucket FROM bands b
  JOIN bucket_sizes s ON b.band = s.band AND b.bucket = s.bucket
  WHERE s.n <= {_BUCKET_CAP}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM ok_bands a JOIN ok_bands b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
)
SELECT c.doc_a, c.doc_b,
       CAST(round(CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
             / (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh)))
             * 10000) AS BIGINT) / 10000.0
         AS jaccard
FROM cand c JOIN sets x ON c.doc_a = x.doc_id JOIN sets y ON c.doc_b = y.doc_id
WHERE CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
      / (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh))) >= 0.5
"""


def _minhash_sig_plan(docs: DataFrame) -> DataFrame:
    """MinHash signature + shingle-set build: ``(doc_id, mh0..mh11, sh)``.

    Row-oriented hashing: shingles are exploded to rows and the digest
    is an ordinary projection — whole-stage-codegen'd, unlike array
    higher-order functions (CodegenFallback, interpreted per element;
    the array formulation of this same pipeline measured 40× slower).
    ONE md5 per shingle; the 12 minhash functions derive from its two
    32-bit lanes via Kirsch-Mitzenmacher (see _minhash_oracle's
    section comment) — integer adds the JIT folds into the aggregate,
    vs 3 full digest computations through r5. One hash-aggregate then
    computes ALL 12 minima AND the shingle set in a single shuffle
    with map-side partials — the textbook minhash shape for a 100 TB
    corpus.
    Two projections: clean_words once per row, shingles over the
    column — shingling straight off `text` re-ran normalize+split O(n)
    times per row (HOFs have no CSE; profiled ~45 CPU-s at sf0.1).

    The verification set ``sh`` holds ``xxhash64`` values of the
    shingles, NOT the strings: exact-Jaccard verification only needs
    set intersections, and hashed elements make those 8-byte longs
    instead of ~25-40-byte strings — the shuffled aggregate state and
    the persisted store (write_minhash_store) shrink ~4×. A 2^-64
    collision perturbs one Jaccard by one element; at any corpus size
    the expected number of affected PAIRS is far below one (same trade
    the minhash signature itself already makes, and the DuckDB oracle's
    string-set Jaccard stays hash-identical in practice).
    """
    sh_rows = exploded_shingles(docs, 3)
    hashed_rows = sh_rows.select(
        "doc_id", F.md5(F.col("s")).alias("d"), F.xxhash64("s").alias("hs")
    ).select(
        "doc_id",
        "hs",
        F.conv(F.substring("d", 1, 8), 16, 10).cast("long").alias("h1"),
        F.conv(F.substring("d", 9, 8), 16, 10).cast("long").alias("h2"),
    )
    mh_aggs = [
        F.min((F.col("h1") + i * F.col("h2")) % F.lit(_MH_MOD)).alias(f"mh{i}")
        for i in range(_N_HASHES)
    ]
    return hashed_rows.groupBy("doc_id").agg(
        *mh_aggs, F.collect_set("hs").alias("sh")
    )


def _bucket_pairs(
    bands: DataFrame, keys: list[str], bucket_cap: int, distinct: bool = True
) -> DataFrame:
    """Distinct candidate pairs (doc_a < doc_b) from co-bucketed band
    rows in ONE bucket-key shuffle: group each bucket, then emit its
    member pairs MAP-SIDE from the sorted id array.

    Replaces the previous count-agg + filter-join + self-join shape,
    which shuffled the corpus-sized band frame three more times for the
    same pair set (measured: simhash plan dropped from 26 to 13
    exchanges). ``bucket_cap`` bounds both the collected array and the
    quadratic emit exactly as it bounded the self-join — an over-cap
    bucket is signature collapse, not near-dups, and is skipped whole.

    Memory bound: flatten() materializes one bucket's pair array per
    row before the explode — cap²/2 two-long structs, ~8 MB at the
    largest cap in use (simhash's 1000) and only for a degenerate
    bucket at that; routine buckets are a few entries.
    """
    buckets = bands.groupBy(*keys).agg(
        F.array_sort(F.collect_list("doc_id")).alias("ids")
    )
    ids = F.col("ids")
    pair_structs = F.flatten(
        F.transform(
            ids,
            lambda x, i: F.transform(
                F.slice(ids, i + 2, F.greatest(F.size(ids) - i - 1, F.lit(0))),
                lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
            ),
        )
    )
    out = (
        buckets.filter((F.size("ids") >= 2) & (F.size("ids") <= bucket_cap))
        .select(F.explode(pair_structs).alias("p"))
        .select(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
    )
    # distinct=False keeps per-bucket multiplicity (ngram-Jaccard counts
    # shared shingles per pair; callers aggregate)
    return out.distinct() if distinct else out


def _minhash_band_rows(sigs: DataFrame) -> DataFrame:
    """Signatures → LSH band rows ``(doc_id, band, bucket)`` (map-side)."""
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.md5(
                F.concat_ws(
                    "|",
                    *[
                        F.col(f"mh{b * _BAND_SIZE + r}").cast("string")
                        for r in range(_BAND_SIZE)
                    ],
                )
            ).alias("bucket"),
        )
        for b in range(_N_HASHES // _BAND_SIZE)
    ]
    return sigs.select(
        "doc_id", F.explode(F.array(*band_structs)).alias("bb")
    ).select(
        "doc_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )


def minhash_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    bucket_cap: int = _BUCKET_CAP,
) -> DataFrame:
    """MinHash signatures → LSH band buckets → candidate pairs → exact
    Jaccard verification, over ANY ``(doc_id long, text string)`` frame.
    Returns ``(doc_a, doc_b, jaccard)`` for pairs with Jaccard ≥
    ``threshold``. Only intra-bucket pairs are compared — never
    all-pairs — and degenerate mega-buckets are excluded (``bucket_cap``).

    Plan shape: ONE shuffle builds per-doc shingle sets; signatures and
    band keys derive map-side from the set array, so there is no per-hash
    re-aggregation and no branch recomputation.

    NB: registers persist() pins under the shared plan cache — callers
    composing multiple dedup plans in one action should not interleave
    builder invocations (see cache.begin_plan).
    """
    cache.begin_plan()
    # pin(): band histogram, both sides of the candidate self-join, and
    # verify-x/verify-y all branch from here. Registered with the plan
    # cache so the next builder invocation evicts it (no session leak).
    sigs = cache.pin(_minhash_sig_plan(docs))
    sets = sigs.select("doc_id", "sh")
    bands = _minhash_band_rows(sigs)
    cand = _bucket_pairs(bands, ["band", "bucket"], bucket_cap)
    return _verify_jaccard(cand, sets, threshold)


def _verify_jaccard(
    cand: DataFrame, sets: DataFrame, threshold: float
) -> DataFrame:
    """Exact-Jaccard verification of candidate pairs against the hashed
    shingle sets (shared by the batch and A/B candidate paths).

    The intersection is materialized ONCE per pair through an explicit
    projection (optimization r15): inlining ``jac`` into both the
    filter and the output column re-evaluated `array_intersect` (an
    O(|set|) interpreted walk) up to three times per candidate —
    operator-level codegen does not CSE across the filter/project
    boundary. ``__t − __i`` is the same integer the inline union-size
    expression produced, and the division/quantize arithmetic is
    unchanged, so the output is bit-identical.

    The threshold is applied as a GENERATOR, not a Filter (optimization
    r16, VERDICT r15 #3/#5): a plain ``filter(jac >= t)`` gets pushed
    back through the projection INTO the join condition — Catalyst
    substitutes the full ``array_intersect`` expression — so the walk
    still ran twice per candidate (r15's plan capture line 283 caught
    it). ``explode(when(jac >= t, array(q)))`` keeps the exact filter
    semantics (empty array drops the row, one-element array emits the
    quantized value) but predicate-pushdown rules do not rewrite
    generators, so ``__i``/``__t`` stay column references and the
    executed plan evaluates ``array_intersect`` exactly once per
    candidate, in the projection below the Generate. Measured isolated
    at sf0.1 (1331 candidates, same session, 3 reps each): inline
    filter 1.5-1.7 warm task-s, r15 projection 0.20-0.28, generator
    0.13-0.16 — and a persist()-barrier alternative measured WORSE
    than the projection (cache build costs more than the walk it
    saves). Rows and schema pinned identical by pytest."""
    j = (
        cand.join(sets.alias("x"), F.col("doc_a") == F.col("x.doc_id"))
        .join(sets.alias("y"), F.col("doc_b") == F.col("y.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect(F.col("x.sh"), F.col("y.sh"))).alias("__i"),
            (F.size(F.col("x.sh")) + F.size(F.col("y.sh"))).alias("__t"),
        )
    )
    jac = F.col("__i").cast("double") / (F.col("__t") - F.col("__i"))
    return j.select(
        "doc_a",
        "doc_b",
        F.explode(
            F.when(jac >= threshold, F.array(quantize(jac, 4))).otherwise(
                F.array()
            )
        ).alias("jaccard"),
    )


# --- incremental dedup: persisted signature store ---------------------------
#
# Continuous-ingest pipelines don't re-shingle 100 TB per arriving batch:
# they persist the minhash signatures + LSH band rows once, then dedup
# each NEW batch against the store — O(batch) shingling, candidate
# generation restricted to buckets the batch actually touches. The store
# is plain parquet (bands/ partitioned by band, sets/ flat), so it maps
# directly onto a Delta/Iceberg table in deployment (append = ACID
# commit; see SCALING.md's table-format section).


def minhash_signatures(docs: DataFrame) -> DataFrame:
    """Pinned signature frame for ``docs`` — compute ONCE per batch and
    pass to both :func:`dedup_against_store` and
    :func:`write_minhash_store` via ``sigs=`` (shingling + per-shingle
    md5 is the dominant batch cost; recomputing it per call doubles
    every incremental trigger). Caller owns the plan lifecycle
    (``cache.begin_plan()`` first)."""
    return cache.pin(_minhash_sig_plan(docs))


def write_minhash_store(
    docs: DataFrame,
    path: str,
    mode: str = "overwrite",
    ingest_batch: int | None = None,
    sigs: DataFrame | None = None,
) -> None:
    """Persist the dedup state for ``docs``: LSH band rows under
    ``{path}/bands`` (partitioned by band) and shingle sets under
    ``{path}/sets``. ``mode="append"`` admits new batches — used by
    :func:`dedup_against_store` callers to fold each deduped batch in.

    ``ingest_batch`` switches to the REPLAY-IDEMPOTENT layout used by
    the streaming driver (streaming/incremental.py): both datasets gain
    an ``ingest_batch=N`` partition level written with dynamic partition
    overwrite, so re-processing a micro-batch after a failure replaces
    exactly its own partition instead of appending duplicate state. A
    store uses ONE layout throughout — don't mix plain and batch writes.

    ``sigs``: precomputed :func:`minhash_signatures` frame to reuse
    (skips the second shingling pass an incremental trigger would pay).
    """
    if sigs is None:
        cache.begin_plan()
        sigs = cache.pin(_minhash_sig_plan(docs))
    bands = _minhash_band_rows(sigs)
    sets = sigs.select("doc_id", "sh")
    if ingest_batch is None:
        bands.write.partitionBy("band").mode(mode).parquet(f"{path}/bands")
        sets.write.mode(mode).parquet(f"{path}/sets")
    else:
        lit_b = F.lit(int(ingest_batch))
        (
            bands.withColumn("ingest_batch", lit_b)
            .write.partitionBy("ingest_batch", "band")
            .mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .parquet(f"{path}/bands")
        )
        (
            sets.withColumn("ingest_batch", lit_b)
            .write.partitionBy("ingest_batch")
            .mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .parquet(f"{path}/sets")
        )


def dedup_against_store(
    new_docs: DataFrame,
    path: str,
    threshold: float = 0.5,
    bucket_cap: int = _BUCKET_CAP,
    exclude_batch: int | None = None,
    sigs: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs ``(doc_a, doc_b, jaccard)`` where AT LEAST ONE side
    is from ``new_docs`` — both batch-vs-store and batch-vs-batch pairs;
    store-vs-store pairs were already reported when those docs were the
    batch, so they are structurally excluded (one candidate side is
    always new, and ``least/greatest`` collapses duplicate orders).

    Scale shape: shingling + signatures run over the BATCH only; the
    store contributes a band-row scan (partition-pruned parquet) into
    the bucket histogram and the candidate join. Exact-Jaccard
    verification reads shingle sets for exactly the doc_ids that appear
    in candidate pairs — a semi-join-shaped lookup, not a store scan.
    Doc ids must be globally unique across batches (the store is
    append-only state, so this is the caller's ingest invariant).

    ``exclude_batch``: for at-least-once drivers on the batch-keyed
    store layout — a REPLAYED batch whose fold already committed would
    otherwise see its own signatures in the store and emit every pair
    twice (and double-count its docs against ``bucket_cap``); passing
    the batch id filters its own ``ingest_batch=N`` partitions out of
    both store reads, making the replay output identical to the
    original run. ``sigs``: precomputed :func:`minhash_signatures`.
    """
    spark = new_docs.sparkSession
    if sigs is None:
        cache.begin_plan()
        sigs_new = cache.pin(_minhash_sig_plan(new_docs))
    else:
        sigs_new = sigs
    bands_new = _minhash_band_rows(sigs_new)
    bands_old = spark.read.parquet(f"{path}/bands")
    # plain-layout stores (no ingest_batch level) have nothing to
    # exclude — a replayed fold there APPENDED, which the batch-keyed
    # layout exists to prevent; filter only when the level is present
    if exclude_batch is not None and "ingest_batch" in bands_old.columns:
        bands_old = bands_old.filter(
            F.col("ingest_batch") != int(exclude_batch)
        )
    bands_old = bands_old.select("doc_id", "band", "bucket")
    # candidate generation in ONE bucket shuffle (the _bucket_pairs
    # shape, new-vs-all variant): group each bucket over the union
    # with an is_new flag, cap on the TOTAL bucket size exactly as the
    # old histogram did, emit sorted (i < j) member pairs map-side and
    # keep only pairs touching the batch — old-old pairs were found
    # when their batches folded. Replaces a histogram agg + two cap
    # joins + a new-vs-all join over the store-sized band frame.
    flagged = bands_new.withColumn("is_new", F.lit(True)).unionByName(
        bands_old.withColumn("is_new", F.lit(False))
    )
    buckets = flagged.groupBy("band", "bucket").agg(
        F.array_sort(F.collect_list(F.struct("doc_id", "is_new"))).alias("ms")
    )
    ms = F.col("ms")
    pair_structs = F.flatten(
        F.transform(
            ms,
            lambda x, i: F.transform(
                F.slice(ms, i + 2, F.greatest(F.size(ms) - i - 1, F.lit(0))),
                lambda y: F.struct(
                    x["doc_id"].alias("doc_a"),
                    y["doc_id"].alias("doc_b"),
                    (x["is_new"] | y["is_new"]).alias("any_new"),
                ),
            ),
        )
    )
    cand = (
        buckets.filter((F.size("ms") >= 2) & (F.size("ms") <= bucket_cap))
        .select(F.explode(pair_structs).alias("p"))
        .filter(F.col("p.any_new"))
        # a doc_id present in BOTH the batch and an older stored batch
        # (re-ingest outside the exclude_batch replay path) sits twice in
        # one bucket's member list — drop the degenerate (d, d) self-pair
        # (sorted emission already guarantees doc_a <= doc_b)
        .filter(F.col("p.doc_a") != F.col("p.doc_b"))
        .select(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
        .distinct()
    )
    sets_old = spark.read.parquet(f"{path}/sets")
    if exclude_batch is not None and "ingest_batch" in sets_old.columns:
        sets_old = sets_old.filter(F.col("ingest_batch") != int(exclude_batch))
    sets_all = sigs_new.select("doc_id", "sh").unionByName(
        # explicit projection: the replay-idempotent store layout carries
        # an extra ingest_batch partition column
        sets_old.select("doc_id", "sh")
    )
    return _verify_jaccard(cand, sets_all, threshold)


@register("dedup_minhash_lsh", oracle=_minhash_oracle())
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract wrapper: :func:`minhash_pairs` over the planted-dup corpus.

    The finer spread (~50 map tasks at sf0.1) engages every core — the
    md5-per-shingle cost dominates per-task overhead here.
    """
    return minhash_pairs(_corpus(spark, sf_dir, bytes_per_task=32 * 1024))


# --- SimHash -----------------------------------------------------------------
#
# Feature choice (round 5): 3-word SHINGLES, not single words. Word
# features degenerate on low-diversity corpora — documents share most of
# a tiny vocabulary, so every per-bit ±1 sum is dominated by the same
# common words and signatures collapse toward each other (measured on
# this corpus: >90% of RANDOM doc pairs landed within Hamming ≤ 8 of
# each other, and band buckets skewed to 2755-of-6000 docs). Phrase
# features are the published fix (Manku, Jain & Das Sarma, WWW'07 §3 use
# phrase-level features for exactly this reason): shingles are near-
# unique per document, so unrelated signatures decorrelate (bucket skew
# measured ≤ 50-of-6600 with shingles) while near-dups still share most
# features. Also keeps the whole dedup family on one feature extractor.

# Signature width 60 bits (15 md5 hex chars), banded as 4 × 15-bit
# buckets. Width trade-offs, measured: 32-bit/8-bit-band candidates grow
# O(N²/256) — at a 10× corpus the per-band bucket occupancy reaches
# hundreds and candidate volume goes quadratic. 15-bit bands give 2¹⁵
# buckets/band (candidates O(N²/2¹⁵): ~100× fewer), while 60 bits stays
# strictly inside a SIGNED 64-bit integer so every stage (signature sum,
# xor, bit_count, band shifts) is expressible in oracle SQL without
# unsigned overflow. Pigeonhole guarantee is band-count-dependent, not
# width-dependent: 4 bands → any pair within Hamming ≤ 3 shares a band.
_SIMHASH_BITS = 60
_SH_BANDS = 4
_SH_BAND_BITS = _SIMHASH_BITS // _SH_BANDS  # 15
_SH_BAND_MASK = (1 << _SH_BAND_BITS) - 1
_SH_K = 3  # verify threshold: Hamming ≤ 3 (Manku et al., WWW'07)
_SH_BUCKET_CAP = 1000  # degenerate-bucket guard, same policy as _BUCKET_CAP


def _simhash_sig_sql() -> str:
    """DuckDB CTE body computing (doc_id, simhash) from a `corpus` CTE."""
    bit_terms = " + ".join(
        f"(CASE WHEN sum(CASE WHEN (wh // {2**b}) % 2 = 1 THEN 1 ELSE -1 END) >= 0 "
        f"THEN CAST({2**b} AS BIGINT) ELSE 0 END)"
        for b in range(_SIMHASH_BITS)
    )
    return f"""
w AS (
  SELECT doc_id, unnest({_shingle_sql(3)}) AS s FROM corpus
),
wh AS (
  SELECT doc_id,
         ('0x' || substr(md5(s), 1, {_SIMHASH_BITS // 4}))::BIGINT AS wh
  FROM w
),
sig AS (
  SELECT doc_id, {bit_terms} AS simhash FROM wh GROUP BY doc_id
)"""


def _simhash_oracle() -> str:
    return f"""
WITH corpus AS ({_CORPUS_SQL}),
{_simhash_sig_sql()}
SELECT doc_id, simhash FROM sig
"""


def simhash_signatures(docs: DataFrame) -> DataFrame:
    """60-bit SimHash per document over distinct 3-word shingle md5s, for
    ANY ``(doc_id long, text string)`` frame → ``(doc_id, simhash)``.

    One explode + one hash-agg with 60 conditional sums — no per-bit row
    explosion, so the shuffle is O(docs × shingles) exactly like a word
    count. Near-dup docs land within small Hamming distance.
    """
    w = exploded_shingles(docs, 3)
    wh = w.select(
        "doc_id",
        F.conv(F.substring(F.md5("s"), 1, _SIMHASH_BITS // 4), 16, 10)
        .cast("long")
        .alias("wh"),
    )
    simhash = None
    for bit_pos in range(_SIMHASH_BITS):
        bit = F.shiftright(F.col("wh"), bit_pos) % 2 == 1
        term = F.when(
            F.sum(F.when(bit, 1).otherwise(-1)) >= 0, F.lit(2**bit_pos).cast("long")
        ).otherwise(F.lit(0).cast("long"))
        simhash = term if simhash is None else simhash + term
    return wh.groupBy("doc_id").agg(simhash.alias("simhash"))


@register("dedup_simhash", oracle=_simhash_oracle())
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract wrapper: :func:`simhash_signatures` over the planted-dup
    corpus (the signature stage of dedup_simhash_pairs)."""
    return simhash_signatures(_corpus(spark, sf_dir))


def simhash_pairs(
    docs: DataFrame,
    k: int = _SH_K,
    bucket_cap: int = _SH_BUCKET_CAP,
) -> DataFrame:
    """Near-dup pairs within Hamming distance ``k`` of the 60-bit SimHash,
    for ANY ``(doc_id long, text string)`` frame →
    ``(doc_a, doc_b, hamming)``.

    Candidate generation is Hamming-band bucketing (Manku et al., WWW'07):
    the signature splits into 4 exact 15-bit bands; any pair within
    Hamming ≤ 3 differs in ≤ 3 bits, which can touch at most 3 of the 4
    bands, so the pair shares ≥ 1 exact band value (pigeonhole) and
    collides in that band's bucket. Verification is one integer
    ``bit_count(xor)`` per candidate.

    Scale shape: the self-join is per (band, value) bucket — never
    all-pairs — and each band's expected bucket is N/2¹⁵ (shingle
    features keep band values near-uniform; see the section comment on
    width choice). ``bucket_cap`` guards degenerate buckets exactly like
    minhash's _BUCKET_CAP: a capped bucket would contribute O(cap²) junk
    candidates from signature collapse, not real near-dups.
    """
    cache.begin_plan()
    # pin(): bands + both verify sides consume the signatures.
    sig = cache.pin(simhash_signatures(docs))
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.shiftright(F.col("simhash"), _SH_BAND_BITS * b)
            .bitwiseAND(F.lit(_SH_BAND_MASK))
            .alias("byte"),
        )
        for b in range(_SH_BANDS)
    ]
    bands = sig.select("doc_id", F.explode(F.array(*band_structs)).alias("bb")).select(
        "doc_id", F.col("bb.band").alias("band"), F.col("bb.byte").alias("byte")
    )
    cand = _bucket_pairs(bands, ["band", "byte"], bucket_cap)
    hd = F.bit_count(F.col("x.simhash").bitwiseXOR(F.col("y.simhash")))
    return (
        cand.join(sig.alias("x"), F.col("doc_a") == F.col("x.doc_id"))
        .join(sig.alias("y"), F.col("doc_b") == F.col("y.doc_id"))
        .filter(hd <= k)
        .select("doc_a", "doc_b", hd.cast("long").alias("hamming"))
    )


def _simhash_pairs_oracle() -> str:
    bands = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, "
        f"(simhash >> {_SH_BAND_BITS * b}) & {_SH_BAND_MASK} AS byte FROM sig"
        for b in range(_SH_BANDS)
    )
    return f"""
WITH corpus AS ({_CORPUS_SQL}),
{_simhash_sig_sql()},
bands AS ({bands}),
bucket_sizes AS (
  SELECT band, byte, count(*) AS n FROM bands GROUP BY band, byte
),
ok_bands AS (
  SELECT b.doc_id, b.band, b.byte FROM bands b
  JOIN bucket_sizes s ON b.band = s.band AND b.byte = s.byte
  WHERE s.n <= {_SH_BUCKET_CAP}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM ok_bands a JOIN ok_bands b
    ON a.band = b.band AND a.byte = b.byte AND a.doc_id < b.doc_id
)
SELECT c.doc_a, c.doc_b,
       bit_count(xor(x.simhash, y.simhash)::BIGINT)::BIGINT AS hamming
FROM cand c JOIN sig x ON c.doc_a = x.doc_id JOIN sig y ON c.doc_b = y.doc_id
WHERE bit_count(xor(x.simhash, y.simhash)::BIGINT) <= {_SH_K}
"""


@register("dedup_simhash_pairs", oracle=_simhash_pairs_oracle())
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract wrapper: :func:`simhash_pairs` over the planted-dup corpus.

    Completes the SimHash dedup family (signature → Hamming-band buckets →
    verified pairs). Finds every planted exact-modulo-normalization copy
    (identical signature, Hamming 0) plus the tail-appended near-dups
    whose signatures stay within Hamming ≤ 3.
    """
    return simhash_pairs(_corpus(spark, sf_dir))


# --- n-gram Jaccard via inverted index --------------------------------------

_DF_CAP = 50  # hot-shingle cap: drop shingles appearing in > _DF_CAP docs


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
WITH corpus AS ({_CORPUS_SQL}),
shingled AS (
  SELECT doc_id, unnest({_shingle_sql(3)}) AS s FROM corpus
),
sizes AS (SELECT doc_id, count(*) AS n FROM shingled GROUP BY doc_id),
rare AS (
  SELECT s FROM shingled GROUP BY s HAVING count(*) <= {_DF_CAP}
),
posting AS (SELECT sh.doc_id, sh.s FROM shingled sh JOIN rare USING (s)),
pair_inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
  FROM posting a JOIN posting b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT p.doc_a, p.doc_b,
       CAST(round(CAST(p.inter AS DOUBLE) / (sa.n + sb.n - p.inter)
             * 10000) AS BIGINT) / 10000.0 AS jaccard
FROM pair_inter p
JOIN sizes sa ON p.doc_a = sa.doc_id
JOIN sizes sb ON p.doc_b = sb.doc_id
WHERE CAST(p.inter AS DOUBLE) / (sa.n + sb.n - p.inter) >= 0.4
""",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract wrapper: :func:`ngram_jaccard_pairs` over the planted-dup
    corpus."""
    return ngram_jaccard_pairs(_corpus(spark, sf_dir))


def ngram_jaccard_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.4,
    df_cap: int = _DF_CAP,
) -> DataFrame:
    """Exact rare-shingle Jaccard pairs via inverted-index self-join, for
    ANY ``(doc_id long, text string)`` frame → ``(doc_a, doc_b, jaccard)``.

    The df-cap drops ubiquitous shingles before the self-join (a shingle in
    f docs yields O(f²) pair rows — the cap bounds the blow-up; standard
    web-dedup practice). Jaccard denominators use the full shingle sets,
    intersections count rare shingles only — an under-estimate for docs
    overlapping solely on hot shingles, identically defined on both
    engines.

    Shingles are reduced to ``xxhash64`` keys map-side BEFORE any
    shuffle, so the df histogram, the posting self-join, and the
    pair-intersection aggregate all move 8-byte longs instead of
    ~25-40-byte strings — the same trade `_minhash_sig_plan` documents
    for its verify sets: a 2⁻⁶⁴ collision perturbs one df/intersection
    count by one, far below one affected pair at any corpus size, and
    the string-set oracle stays count-identical in practice.
    """
    cache.begin_plan()
    # pin(): sizes / df-histogram / posting-list branches all consume
    # the exploded shingles — materialize once (see minhash_pairs).
    sh = cache.pin(
        exploded_shingles(docs, n).select("doc_id", F.xxhash64("s").alias("s"))
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    # df-histogram, df-cap filter, and the posting self-join collapse
    # into ONE shingle-key shuffle: the per-shingle doc list IS the df
    # histogram (size(ids) = df), and pairs emit map-side from it
    # (_bucket_pairs, distinct=False keeps one row per shared shingle)
    pair_inter = _bucket_pairs(sh, ["s"], df_cap, distinct=False).groupBy(
        "doc_a", "doc_b"
    ).agg(F.count("*").alias("inter"))
    jac = F.col("inter").cast("double") / (F.col("na") + F.col("nb") - F.col("inter"))
    return (
        pair_inter.join(
            F.broadcast(
                sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
            ),
            "doc_a",
        )
        .join(
            F.broadcast(
                sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
            ),
            "doc_b",
        )
        .filter(jac >= threshold)
        .select("doc_a", "doc_b", quantize(jac, 4).alias("jaccard"))
    )


# --- embedding-cosine near-dup ----------------------------------------------

def embedding_cosine_pairs(
    corpus: DataFrame,
    threshold: float = 0.95,
    block_cap: int = 8192,
    gemm_chunk: int = 1024,
    home_col: str | None = None,
) -> DataFrame:
    """Super-threshold cosine pairs within label blocks, with every block
    capped at ``block_cap`` vectors per Python worker.

    Scale shape: a label with n vectors is salted into S = ⌈n/cap⌉
    sub-blocks (pmod on vec_id); each vector replicates to its S
    (sub-block, other-sub-block) tasks, so an applyInPandas group holds at
    most TWO sub-blocks (≤ 2·cap rows) — a hot label can no longer
    materialize an unbounded pandas frame or an n×n similarity matrix.
    Replication factor S is the standard block-nested-loop cost of
    all-pairs within a block; the gemm itself is additionally row-chunked
    so peak sims memory is gemm_chunk × cap, independent of block size.
    Inputs: ``corpus`` with (vec_id long, label, v array<double>).

    ``home_col`` (boolean column, for multi-probe callers): when given,
    a pair is emitted only if AT LEAST ONE side is flagged home — the
    visitor-visitor mask that makes multi-probe blocking exactly-once
    (see :func:`embedding_cosine_lsh_pairs`).
    """
    import numpy as np
    import pandas as pd

    counts = corpus.groupBy("label").agg(
        F.ceil(F.count("*") / block_cap).cast("int").alias("n_sub")
    )
    cols = ["g", "vec_id", "v"] + ([home_col] if home_col else [])
    salted = (
        corpus.join(F.broadcast(counts), "label")
        .withColumn("g", F.pmod("vec_id", F.col("n_sub")).cast("int"))
        .withColumn("o", F.explode(F.sequence(F.lit(0), F.col("n_sub") - 1)))
        .select(
            "label",
            F.least("g", "o").alias("s1"),
            F.greatest("g", "o").alias("s2"),
            *cols,
        )
    )

    def _emit(sims: np.ndarray, ids_a, ids_b, mask: np.ndarray):
        ii, jj = np.where(mask)
        a, b = ids_a[ii], ids_b[jj]
        lo, hi = np.minimum(a, b), np.maximum(a, b)
        return pd.DataFrame(
            {"vec_a": lo, "vec_b": hi, "cos_sim": np.round(sims[ii, jj], 4)}
        )

    def block_pairs(key, pdf: pd.DataFrame) -> pd.DataFrame:
        s1, s2 = int(key[1]), int(key[2])
        ids = pdf["vec_id"].to_numpy()
        mat = np.stack(pdf["v"].to_numpy()).astype(np.float64)
        mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
        home = pdf[home_col].to_numpy().astype(bool) if home_col else None
        out = []
        if s1 == s2:  # intra-sub-block: upper triangle, row-chunked
            for lo_i in range(0, len(ids), gemm_chunk):
                hi_i = min(lo_i + gemm_chunk, len(ids))
                sims = mat[lo_i:hi_i] @ mat.T
                mask = sims >= threshold
                # keep strictly-upper pairs only (global col > global row)
                cols_ix = np.arange(len(ids))[None, :]
                rows_ix = np.arange(lo_i, hi_i)[:, None]
                mask = mask & (cols_ix > rows_ix)
                if home is not None:
                    mask &= home[lo_i:hi_i][:, None] | home[None, :]
                out.append(_emit(sims, ids[lo_i:hi_i], ids, mask))
        else:  # cross sub-block: full rectangle, row-chunked
            a_sel = pdf["g"].to_numpy() == s1
            ids_a, mat_a = ids[a_sel], mat[a_sel]
            ids_b, mat_b = ids[~a_sel], mat[~a_sel]
            home_a = home[a_sel] if home is not None else None
            home_b = home[~a_sel] if home is not None else None
            for lo_i in range(0, len(ids_a), gemm_chunk):
                hi_i = min(lo_i + gemm_chunk, len(ids_a))
                sims = mat_a[lo_i:hi_i] @ mat_b.T
                mask = sims >= threshold
                if home is not None:
                    mask &= home_a[lo_i:hi_i][:, None] | home_b[None, :]
                out.append(_emit(sims, ids_a[lo_i:hi_i], ids_b, mask))
        if not out:
            return pd.DataFrame({"vec_a": [], "vec_b": [], "cos_sim": []})
        return pd.concat(out, ignore_index=True)

    return salted.groupBy("label", "s1", "s2").applyInPandas(
        block_pairs, "vec_a long, vec_b long, cos_sim double"
    )


@register(
    "dedup_embedding_cosine",
    oracle="""
WITH corpus AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000 AS vec_id, label, CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings WHERE vec_id % 50 = 0
)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       round(list_dot_product(a.v, b.v)
             / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))),
             4) AS cos_sim
FROM corpus a JOIN corpus b
  ON a.label = b.label AND a.vec_id < b.vec_id
WHERE list_dot_product(a.v, b.v)
      / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.95
""",
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs, blocked by label (the coarse-cluster key).

    Blocking is what makes this scale: candidate pairs are same-label
    only, never all-pairs. At 100 TB the label would be an LSH/IVF bucket
    (see similarity.ann_lsh_buckets) — the plan shape is identical, and
    embedding_cosine_pairs caps any single block at block_cap vectors per
    worker (hot-label OOM guard), cross-comparing sub-blocks pairwise.

    The pairwise cosine runs as `applyInPandas`: normalized chunked gemm
    per (sub-)block, only super-threshold pairs leave Python. The
    equivalent join + higher-order-function cosine was ~25× slower
    (interpreted per-element lambdas on 2.5M pairs).
    """
    from ..functions.vector import as_double

    ensure_utc(spark)
    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.select("vec_id", "label", as_double("embedding").alias("v"))
    planted = emb.filter(F.col("vec_id") % 50 == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        "label",
        as_double("embedding").alias("v"),
    )
    corpus = base.unionByName(planted)
    return embedding_cosine_pairs(corpus)


def _lsh_cosine_oracle() -> str:
    from .similarity import _bucket_sql

    return f"""
WITH corpus AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000 AS vec_id, CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings WHERE vec_id % 50 = 0
),
b AS (SELECT vec_id, v, {_bucket_sql("v")} AS bucket FROM corpus)
SELECT a.vec_id AS vec_a, c.vec_id AS vec_b,
       round(list_dot_product(a.v, c.v)
             / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(c.v, c.v))),
             4) AS cos_sim
FROM b a JOIN b c
  ON a.bucket = c.bucket AND a.vec_id < c.vec_id
WHERE list_dot_product(a.v, c.v)
      / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(c.v, c.v))) >= 0.95
"""


def embedding_cosine_lsh_pairs(
    corpus: DataFrame,
    threshold: float = 0.95,
    multiprobe: bool = False,
    block_cap: int = 8192,
) -> DataFrame:
    """Label-free near-dup pairs for ANY ``(vec_id long, v array<double>)``
    frame: blocking key = random-hyperplane LSH bucket derived from the
    vectors themselves → ``(vec_a, vec_b, cos_sim)``.

    ``multiprobe=False`` blocks on the exact bucket: identical vectors
    always collide (exact-copy recall 100%); a near-miss pair split by
    one hyperplane is the standard LSH recall trade. ``multiprobe=True``
    additionally sends each vector into its down-flipped neighbor
    buckets (r5 verdict item 5, mirroring ivf_topk's nprobe): guaranteed
    recovery of every Hamming-≤1 pair at an average replication of
    1 + popcount/2 ≈ 5× block membership. Pairs where BOTH sides are
    visiting (neither at its home bucket) are masked out inside the
    gemm (``home_col``), which makes discovery exactly-once — a
    Hamming-0 pair meets only home-home in its own bucket, a Hamming-1
    pair meets only in the lower bucket of the two (the upper side
    visits down; down-flip targets of two distinct buckets can't both
    BE a home they share) — so the output needs no distinct and
    same-bucket duplicates cost no repeat gemm. Downstream is unchanged
    either way: embedding_cosine_pairs' block_cap salting bounds any
    hot bucket per worker.
    """
    from .similarity import _bucket_udf, _probe_buckets_udf

    if multiprobe:
        probes = _probe_buckets_udf()
        blocked = corpus.select(
            "vec_id",
            F.posexplode(probes(F.col("v"))).alias("pos", "label"),
            "v",
        ).select(
            "vec_id", "label", "v", (F.col("pos") == 0).alias("is_home")
        )
        return embedding_cosine_pairs(
            blocked, threshold, block_cap, home_col="is_home"
        )
    bucket = _bucket_udf()
    blocked = corpus.select("vec_id", bucket(F.col("v")).alias("label"), "v")
    return embedding_cosine_pairs(blocked, threshold, block_cap)


@register("dedup_embedding_cosine_lsh", oracle=_lsh_cosine_oracle())
def dedup_embedding_cosine_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-FREE embedding near-dup: blocking key = random-hyperplane
    LSH bucket instead of a given label column.

    dedup_embedding_cosine assumes a coarse label exists; a raw 100 TB
    embedding corpus has none, so the practical pipeline derives the
    block from the vectors themselves — the same 8-plane bucket the ANN
    path uses (similarity.PLANES; identical duplicate vectors land in
    identical buckets, so exact-copy recall is 100%). The contract
    query blocks on the exact bucket so the oracle stays a plain
    bucket-equality join; production recall recovery is the opt-in
    ``multiprobe=True`` of :func:`embedding_cosine_lsh_pairs`, pytest'd
    against a planted one-hyperplane near-miss pair.
    """
    from ..functions.vector import as_double

    ensure_utc(spark)
    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.select("vec_id", as_double("embedding").alias("v"))
    planted = emb.filter(F.col("vec_id") % 50 == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        as_double("embedding").alias("v"),
    )
    corpus = base.unionByName(planted)
    return embedding_cosine_lsh_pairs(corpus, multiprobe=False)


# --- benchmark decontamination: cross-set probe-shingle overlap --------------
#
# The training-data-pipeline operation the within-corpus dedups above do
# NOT cover: given a (small) benchmark/eval "probe" set, find corpus
# documents that leaked any probe n-gram — the standard n-gram-overlap
# decontamination check run before LLM training. Reference scope: the
# reference pipeline has no text dedup at all; this extends the
# BASELINE.json dedup family (cf. /root/reference/README.md:164-187
# future-work scope).

_PROBE_MOD = 17  # doc_id % 17 == 3 → ~6% of originals act as the probe set
_PROBE_REM = 3
# r14 (SCALE_SWEEP_LIB_r14c adjudication): a benchmark probe is FIXED
# SIZE by nature — the residue selection alone made the probe grow WITH
# the corpus, and probe-shingle coverage × corpus hits compounds
# (decontam_probe_overlap measured isolated exponent +1.32 at the 10×
# pairing). The probe window is therefore capped at the sf0.1 id range:
# bit-identical behavior at every driver SF (ids are 0-contiguous,
# ≤ 4999 there; planted dups live at +1000000), fixed-size probe
# beyond — the operator's true 100 TB shape. Oracles carry the same
# predicate.
_PROBE_CAP = 5000
_DECONTAM_N = 5  # 5-gram overlap, the usual decontamination shingle width


def _probe_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FIXED probe window as its own pushed-down scan (r14): the
    probe rows are exactly `_corpus().filter(is_probe)` — originals
    with the residue inside the cap; planted ids live at +1e6 and can
    never match — but filtering the corpus pays spread()'s full-corpus
    repartition to keep ~300 docs (measured: the probe branch alone
    cost 7.5 of the row's 23 CPU-s at 10×). A direct scan with the
    filter AT the source prunes instead."""
    ensure_utc(spark)
    return (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter(
            (F.col("doc_id") % _PROBE_MOD == _PROBE_REM)
            & (F.col("doc_id") < _PROBE_CAP)
        )
    )


@register(
    "decontam_probe_overlap",
    oracle=f"""
WITH corpus AS ({_CORPUS_SQL}),
probe_sh AS (
  SELECT DISTINCT unnest({_shingle_sql(_DECONTAM_N)}) AS s
  FROM corpus
  WHERE doc_id < 1000000 AND doc_id % {_PROBE_MOD} = {_PROBE_REM} AND doc_id < {_PROBE_CAP}
),
cand AS (
  SELECT doc_id, unnest({_shingle_sql(_DECONTAM_N)}) AS s
  FROM corpus
  WHERE NOT (doc_id < 1000000 AND doc_id % {_PROBE_MOD} = {_PROBE_REM} AND doc_id < {_PROBE_CAP})
)
SELECT c.doc_id, count(*) AS n_overlap
FROM cand c JOIN probe_sh p ON c.s = p.s
GROUP BY c.doc_id
""",
)
def decontam_probe_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract wrapper: :func:`decontam_overlap` with the probe set cut
    from the planted-dup corpus by doc_id residue (the planted copies of
    probe docs guarantee non-trivial hits on both engines)."""
    corpus = _corpus(spark, sf_dir)
    is_probe = (
        (F.col("doc_id") < 1000000)
        & (F.col("doc_id") % _PROBE_MOD == _PROBE_REM)
        & (F.col("doc_id") < _PROBE_CAP)
    )
    return decontam_overlap(
        corpus.filter(~is_probe), _probe_docs(spark, sf_dir)
    )


def decontam_overlap(
    docs: DataFrame, probe: DataFrame, n: int = _DECONTAM_N
) -> DataFrame:
    """Benchmark decontamination for ANY pair of ``(doc_id, text)``
    frames: corpus documents sharing any word ``n``-gram with the probe
    (benchmark) set → ``(doc_id, n_overlap)`` where n_overlap counts
    distinct shared shingles per document.

    Scale shape: the probe side is a benchmark suite — thousands of
    documents even at 100 TB corpus scale — so its distinct shingle set
    is BROADCAST and the corpus side is a map-side hash join on the
    exploded shingles: no corpus shuffle at all until the final per-doc
    count (which shuffles only (doc_id, hit) pairs).
    """

    probe_sh = exploded_shingles(probe, n).select("s").distinct()
    return (
        exploded_shingles(docs, n).join(F.broadcast(probe_sh), "s")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_overlap"))
    )


def decontam_overlap_bloom(
    docs: DataFrame,
    probe: DataFrame,
    n: int = _DECONTAM_N,
    fpp: float = 0.01,
    m_bits: int | None = None,
) -> DataFrame:
    """:func:`decontam_overlap` with a Bloom-filter prefilter — the
    blocklist-scale variant. Output is IDENTICAL (``doc_id,
    n_overlap``): the Bloom test has no false negatives and every
    surviving candidate is exact-verified by the final join, so false
    positives only cost work, never correctness (pytest drives this
    with an absurdly small ``m_bits`` to force collisions and asserts
    equality with the broadcast-join formulation).

    Scale shape: the broadcast-set plan of decontam_overlap caps out
    when the probe side stops being benchmark-suite-sized (~10^8
    blocklist shingles ≈ tens of GB as a hash relation). Here the probe
    shingles collapse to a ~10-bit-per-element numpy Bloom filter
    (125 MB at 10^8, see functions/bloom.py), shipped by ordinary Spark
    broadcast; the corpus stream is pruned map-side by an Arrow-batched
    pandas UDF over ``xxhash64`` values BEFORE any shuffle, and the
    exact verification join — now NOT broadcast — processes only
    |hits| + fpp·|corpus shingles| rows.

    The driver-side ``collect()`` of probe hashes is bounded by the
    probe set itself (the thing being filtered against, not the
    corpus); building the filter distributed-side via treeAggregate is
    the same numpy OR-fold if the probe ever outgrows the driver.
    """
    from ..functions.bloom import Bloom64

    cache.begin_plan()

    probe_sh = cache.pin(
        exploded_shingles(probe, n).select("s").distinct()
    )
    probe_hashes = [
        r[0] for r in probe_sh.select(F.xxhash64("s")).collect()
    ]
    if m_bits is None:
        bloom = Bloom64.build(probe_hashes, fpp=fpp)
    else:
        bloom = Bloom64(m_bits, k=2)
        bloom.add_many(probe_hashes)
    sc = docs.sparkSession.sparkContext
    b_bloom = sc.broadcast(bloom)

    @F.pandas_udf("boolean")
    def _maybe_hit(h: pd.Series) -> pd.Series:
        return pd.Series(b_bloom.value.contains_many(h.to_numpy()))

    cand = (
        exploded_shingles(docs, n)
        .withColumn("__h", F.xxhash64("s"))
        .filter(_maybe_hit(F.col("__h")))
        .drop("__h")
    )
    return (
        cand.join(probe_sh, "s")  # exact verify: no broadcast hint, tiny input
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_overlap"))
    )


@register(
    "decontam_overlap_bloom",
    oracle=f"""
WITH corpus AS ({_CORPUS_SQL}),
probe_sh AS (
  SELECT DISTINCT unnest({_shingle_sql(_DECONTAM_N)}) AS s
  FROM corpus
  WHERE doc_id < 1000000 AND doc_id % {_PROBE_MOD} = {_PROBE_REM} AND doc_id < {_PROBE_CAP}
),
cand AS (
  SELECT doc_id, unnest({_shingle_sql(_DECONTAM_N)}) AS s
  FROM corpus
  WHERE NOT (doc_id < 1000000 AND doc_id % {_PROBE_MOD} = {_PROBE_REM} AND doc_id < {_PROBE_CAP})
)
SELECT c.doc_id, count(*) AS n_overlap
FROM cand c JOIN probe_sh p ON c.s = p.s
GROUP BY c.doc_id
""",
)
def decontam_overlap_bloom_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Library/oracle wrapper for :func:`decontam_overlap_bloom` (r6
    verdict: the Bloom path was pytest-only). The oracle is the EXACT
    overlap SQL — shared verbatim with decontam_probe_overlap — because
    the Bloom prefilter provably cannot change the output: no false
    negatives, and every surviving candidate is exact-verified by the
    final join, so false positives cost work, never rows. Running it
    against the exact oracle at the default fpp therefore checks the
    whole contract, not a planted fpp=0 special case."""
    corpus = _corpus(spark, sf_dir)
    is_probe = (
        (F.col("doc_id") < 1000000)
        & (F.col("doc_id") % _PROBE_MOD == _PROBE_REM)
        & (F.col("doc_id") < _PROBE_CAP)
    )
    return decontam_overlap_bloom(
        corpus.filter(~is_probe), _probe_docs(spark, sf_dir)
    )


def _pos_shingle_sql(n: int) -> str:
    """DuckDB expression: list of {pos, s} structs of POSITIONAL word
    n-gram shingles (NOT distinct — span detection needs every position)."""
    return (
        f"list_filter(list_transform("
        f"range(1, greatest(len({_W_SQL}) - {n - 2}, 1)), "
        f"i -> struct_pack(pos := i, s := array_to_string(({_W_SQL})[i:i+{n - 1}], ' '))), "
        f"x -> x.s <> '')"
    )


@register(
    "decontam_overlap_spans",
    oracle=f"""
WITH corpus AS ({_CORPUS_SQL}),
probe_sh AS (
  SELECT DISTINCT unnest({_shingle_sql(_DECONTAM_N)}) AS s
  FROM corpus
  WHERE doc_id < 1000000 AND doc_id % {_PROBE_MOD} = {_PROBE_REM} AND doc_id < {_PROBE_CAP}
),
cand AS (
  SELECT doc_id, u.pos AS pos, u.s AS s
  FROM (
    SELECT doc_id, unnest({_pos_shingle_sql(_DECONTAM_N)}) AS u
    FROM corpus
    WHERE NOT (doc_id < 1000000 AND doc_id % {_PROBE_MOD} = {_PROBE_REM} AND doc_id < {_PROBE_CAP})
  )
),
hits AS (
  SELECT c.doc_id, c.pos, c.s FROM cand c JOIN probe_sh p ON c.s = p.s
),
islands AS (
  SELECT doc_id, pos, s,
         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
  FROM hits
),
runs AS (
  SELECT doc_id, grp, count(*) AS run_len FROM islands GROUP BY doc_id, grp
)
SELECT r.doc_id,
       o.n_overlap,
       max(r.run_len) + {_DECONTAM_N - 1} AS max_span_words
FROM runs r
JOIN (
  SELECT doc_id, count(DISTINCT s) AS n_overlap FROM hits GROUP BY doc_id
) o ON r.doc_id = o.doc_id
GROUP BY r.doc_id, o.n_overlap
""",
)
def decontam_overlap_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract wrapper: :func:`decontam_spans` with the same probe cut
    as decontam_probe_overlap."""
    corpus = _corpus(spark, sf_dir)
    is_probe = (
        (F.col("doc_id") < 1000000)
        & (F.col("doc_id") % _PROBE_MOD == _PROBE_REM)
        & (F.col("doc_id") < _PROBE_CAP)
    )
    return decontam_spans(
        corpus.filter(~is_probe), _probe_docs(spark, sf_dir)
    )


def decontam_spans(
    docs: DataFrame, probe: DataFrame, n: int = _DECONTAM_N
) -> DataFrame:
    """Sequence-level decontamination: per contaminated document, the
    count of distinct leaked ``n``-grams AND the longest CONTIGUOUS
    overlap span in words → ``(doc_id, n_overlap, max_span_words)``.

    The hit-count gate (:func:`decontam_overlap`) can't distinguish a
    document quoting one benchmark sentence from a wholesale copy;
    production decontamination reports the longest contiguous span for
    exactly that reason. A run of k consecutive leaked shingle positions
    covers k + n − 1 words.

    Scale shape: identical to decontam_overlap — broadcast probe shingle
    set, map-side join on positional shingles — plus one windowed
    gaps-and-islands pass (pos − row_number per doc) that shuffles only
    HIT rows (doc_id, pos, shingle): contamination is sparse, so the
    window input is orders of magnitude smaller than the corpus.
    """
    cache.begin_plan()

    def _pos_sh(df: DataFrame) -> DataFrame:
        return df.select(
            "doc_id", clean_words("text").alias("__w")
        ).select(
            "doc_id",
            F.posexplode(shingles_of_words(F.col("__w"), n)).alias("pos0", "s"),
        ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "s")

    probe_sh = exploded_shingles(probe, n).select("s").distinct()
    hits = cache.pin(_pos_sh(docs).join(F.broadcast(probe_sh), "s"))
    from pyspark.sql.window import Window

    w = Window.partitionBy("doc_id").orderBy("pos")
    islands = hits.withColumn("grp", F.col("pos") - F.row_number().over(w))
    runs = islands.groupBy("doc_id", "grp").agg(F.count("*").alias("run_len"))
    overlap = hits.groupBy("doc_id").agg(
        F.countDistinct("s").alias("n_overlap")
    )
    return (
        runs.groupBy("doc_id")
        .agg((F.max("run_len") + (n - 1)).alias("max_span_words"))
        .join(overlap, "doc_id")
        .select("doc_id", "n_overlap", "max_span_words")
    )


def _fuzzy_decontam_oracle(threshold: float) -> str:
    """DuckDB replication of the MinHash-LSH fuzzy decontamination:
    the same 12-hash/3-band signature machinery as _minhash_oracle,
    built once per side (corpus/probe) and joined across sides."""
    mh_cols = ",\n         ".join(
        f"list_aggregate(list_transform(hd, x -> "
        f"(('0x' || substr(x, 1, 8))::BIGINT + {i} * ('0x' || substr(x, 9, 8))::BIGINT)"
        f" % {_MH_MOD}), 'min') AS mh{i}"
        for i in range(_N_HASHES)
    )
    band_rows = []
    for b in range(_N_HASHES // _BAND_SIZE):
        parts = " || '|' || ".join(
            f"mh{b * _BAND_SIZE + r}::VARCHAR" for r in range(_BAND_SIZE)
        )
        band_rows.append(
            f"SELECT doc_id, {b} AS band, md5({parts}) AS bucket FROM {{side}}_sigs"
        )
    bands_sql = "\n  UNION ALL\n  ".join(band_rows)

    def _side(side: str, where: str) -> str:
        return f"""
{side}_sets AS (
  SELECT doc_id, {_shingle_sql(3)} AS sh FROM corpus WHERE {where}
),
{side}_hashed AS (
  SELECT doc_id, list_transform(sh, s -> md5(s)) AS hd
  FROM {side}_sets WHERE len(sh) > 0
),
{side}_sigs AS (
  SELECT doc_id, {mh_cols} FROM {side}_hashed
),
{side}_bands AS (
  {bands_sql.replace('{side}', side)}
)"""

    probe_where = (
        f"doc_id < 1000000 AND doc_id % {_PROBE_MOD} = {_PROBE_REM} "
        f"AND doc_id < {_PROBE_CAP}"
    )
    return f"""
WITH corpus AS ({_CORPUS_SQL}),
{_side('doc', f'NOT ({probe_where})')},
{_side('probe', probe_where)},
cand AS (
  SELECT DISTINCT d.doc_id AS doc_id, p.doc_id AS probe_id
  FROM doc_bands d JOIN probe_bands p
    ON d.band = p.band AND d.bucket = p.bucket
)
SELECT c.doc_id, c.probe_id,
       CAST(round(CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
             / (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh)))
             * 10000) AS BIGINT) / 10000.0 AS jaccard
FROM cand c
JOIN doc_sets x ON c.doc_id = x.doc_id
JOIN probe_sets y ON c.probe_id = y.doc_id
WHERE CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
      / (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh))) >= {threshold}
"""


def decontam_fuzzy(
    docs: DataFrame, probe: DataFrame, threshold: float = 0.5
) -> DataFrame:
    """FUZZY benchmark decontamination: corpus documents whose word
    3-gram Jaccard similarity to ANY probe (benchmark) document is ≥
    ``threshold`` → ``(doc_id, probe_id, jaccard)``. The n-gram overlap
    gates (:func:`decontam_overlap`/:func:`decontam_spans`) catch
    verbatim leakage; this catches REPHRASED or partially-edited
    benchmark copies the exact-shingle joins miss — the "fuzzy dedup
    against the eval set" step production pipelines run alongside the
    exact one (the reference's roadmap stops at exact overlap;
    /root/reference/README.md:164-187 scopes dedup generally).

    Spark-first shape (NOT a pair self-join): the benchmark side is
    thousands of documents even at 100 TB corpus scale, so its LSH band
    rows AND its hashed shingle sets are BROADCAST. The corpus makes
    exactly ONE shuffle (the signature hash-aggregate, shared machinery
    with minhash_pairs); candidate generation is a map-side broadcast
    join of corpus band rows against probe band rows, and exact-Jaccard
    verification is another map-side broadcast join — no bucket cap is
    needed because fan-out is bounded by the benchmark's bucket surface
    and every candidate is exact-verified. Compare minhash_pairs, which
    must shuffle band rows to group intra-corpus buckets.

    Recall follows the LSH curve P(candidate) = 1−(1−j⁴)³ — identical
    signatures (j=1) always collide; the pytest pins the planted
    exact+near copies and cross-checks a brute-force sweep.
    """
    cache.begin_plan()
    doc_sigs = cache.pin(_minhash_sig_plan(docs))
    probe_sigs = cache.pin(_minhash_sig_plan(probe))
    doc_bands = _minhash_band_rows(doc_sigs)
    probe_bands = _minhash_band_rows(probe_sigs).withColumnRenamed(
        "doc_id", "probe_id"
    )
    cand = (
        doc_bands.join(F.broadcast(probe_bands), ["band", "bucket"])
        .select("doc_id", "probe_id")
        .distinct()
    )
    doc_sets = doc_sigs.select("doc_id", "sh")
    probe_sets = probe_sigs.select(
        F.col("doc_id").alias("probe_id"), F.col("sh").alias("psh")
    )
    # project (intersection, size-sum) once, then threshold via the
    # same GENERATOR shape `_verify_jaccard` documents (optimization
    # r16): a plain filter folds into the broadcast join's condition
    # and re-walks array_intersect per candidate; explode(when(...))
    # keeps the filter semantics while leaving __i/__t as column
    # references, one walk per candidate. ``__i/(__t − __i)`` is
    # arithmetic-identical to the former inline inter/union expression,
    # so the output (and the decontam_fuzzy_minhash contract hash) is
    # unchanged.
    j = (
        cand.join(doc_sets, "doc_id")
        .join(F.broadcast(probe_sets), "probe_id")
        .select(
            "doc_id",
            "probe_id",
            F.size(F.array_intersect(F.col("sh"), F.col("psh"))).alias("__i"),
            (F.size("sh") + F.size("psh")).alias("__t"),
        )
    )
    jac = F.col("__i").cast("double") / (F.col("__t") - F.col("__i"))
    return j.select(
        "doc_id",
        "probe_id",
        F.explode(
            F.when(jac >= threshold, F.array(quantize(jac, 4))).otherwise(
                F.array()
            )
        ).alias("jaccard"),
    )


@register("decontam_fuzzy_minhash", oracle=_fuzzy_decontam_oracle(0.5))
def decontam_fuzzy_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract wrapper: :func:`decontam_fuzzy` with the same probe cut
    as decontam_probe_overlap — the planted exact copies (+1000000,
    j=1.0 after normalization) and tail-append near copies (+2000000,
    j≈0.8) of probe-residue originals guarantee non-trivial hits on
    both engines."""
    corpus = _corpus(spark, sf_dir)
    is_probe = (
        (F.col("doc_id") < 1000000)
        & (F.col("doc_id") % _PROBE_MOD == _PROBE_REM)
        & (F.col("doc_id") < _PROBE_CAP)
    )
    return decontam_fuzzy(
        corpus.filter(~is_probe), _probe_docs(spark, sf_dir)
    )


# --- corpus-wide exact-substring duplicate spans -----------------------------
#
# Self-corpus analogue of decontam_spans: instead of leaked benchmark
# n-grams, find word n-grams that occur in MORE THAN ONE document of the
# corpus itself, and report per document the count of such duplicated
# grams and the longest contiguous duplicated span. This is the
# Spark-first re-expression of suffix-array exact-substring dedup
# (Lee et al. 2022, "Deduplicating Training Data Makes Language Models
# Better"): the suffix array finds repeated byte substrings ≥ a length
# threshold; a positional word-n-gram self-match finds repeated word
# substrings ≥ n words, which is the same signal expressed as a
# hash-aggregate instead of a global sort — the shape Spark executes
# well at 100 TB.

_SUBSTR_N = 8  # spans of ≥8 shared words count as duplicated substrings


def substring_dup_spans(docs: DataFrame, n: int = _SUBSTR_N) -> DataFrame:
    """Exact-substring self-dedup: per document, the number of distinct
    word ``n``-grams shared with ANY OTHER document and the longest
    contiguous such span → ``(doc_id, n_dup_grams, max_dup_span_words)``.

    Scale shape (100 TB): positional shingles are reduced to 8-byte
    ``xxhash64`` keys before any shuffle, so the duplicate-gram
    aggregate moves (hash, doc_id, pos) — ~24 bytes/position — instead
    of n-word strings (~8× the corpus bytes at n=8). "Appears in ≥2
    docs" is decided by ``min(doc_id) <> max(doc_id)``, a fully
    map-side-combinable pair of partial aggregates (no count-distinct
    shuffle of doc lists). The join back to positions is a shuffle join
    on the 8-byte hash (AQE may broadcast the dup-gram side when small),
    and the gaps-and-islands window shuffles only HIT positions — for a
    mostly-unique corpus, a small fraction of total positions. A 2^-64
    hash collision merges two unrelated grams; at 100 TB (~10^13 grams)
    the expected number of colliding pairs is ~10^-3 and a collision
    only perturbs counts, never crashes — the standard trade every
    hash-based dedup (minhash, simhash) already makes.
    """
    cache.begin_plan()
    pos_sh = cache.pin(
        docs.select("doc_id", clean_words("text").alias("__w"))
        .select(
            "doc_id",
            F.posexplode(shingles_of_words(F.col("__w"), n)).alias("pos0", "s"),
        )
        .select(
            "doc_id",
            (F.col("pos0") + 1).alias("pos"),
            F.xxhash64("s").alias("h"),
        )
    )
    dup_grams = (
        pos_sh.groupBy("h")
        .agg(F.min("doc_id").alias("__mn"), F.max("doc_id").alias("__mx"))
        .filter(F.col("__mn") != F.col("__mx"))
        .select("h")
    )
    hits = cache.pin(pos_sh.join(dup_grams, "h"))
    from pyspark.sql.window import Window

    w = Window.partitionBy("doc_id").orderBy("pos")
    islands = hits.withColumn("grp", F.col("pos") - F.row_number().over(w))
    runs = islands.groupBy("doc_id", "grp").agg(F.count("*").alias("run_len"))
    per_doc = hits.groupBy("doc_id").agg(
        F.countDistinct("h").alias("n_dup_grams")
    )
    return (
        runs.groupBy("doc_id")
        .agg((F.max("run_len") + (n - 1)).alias("max_dup_span_words"))
        .join(per_doc, "doc_id")
        .select("doc_id", "n_dup_grams", "max_dup_span_words")
    )


@register(
    "dedup_substring_spans",
    oracle=f"""
WITH corpus AS ({_CORPUS_SQL}),
pos_sh AS (
  SELECT doc_id, u.pos AS pos, u.s AS s
  FROM (
    SELECT doc_id, unnest({_pos_shingle_sql(_SUBSTR_N)}) AS u
    FROM corpus
  )
),
dup AS (
  SELECT s FROM pos_sh GROUP BY s HAVING min(doc_id) <> max(doc_id)
),
hits AS (
  SELECT p.doc_id, p.pos, p.s FROM pos_sh p JOIN dup d USING (s)
),
islands AS (
  SELECT doc_id, pos, s,
         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
  FROM hits
),
runs AS (
  SELECT doc_id, grp, count(*) AS run_len FROM islands GROUP BY doc_id, grp
)
SELECT r.doc_id,
       o.n_dup_grams,
       max(r.run_len) + {_SUBSTR_N - 1} AS max_dup_span_words
FROM runs r
JOIN (
  SELECT doc_id, count(DISTINCT s) AS n_dup_grams FROM hits GROUP BY doc_id
) o ON r.doc_id = o.doc_id
GROUP BY r.doc_id, o.n_dup_grams
""",
)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract wrapper: :func:`substring_dup_spans` over the planted
    corpus (exact copies share every gram; near-dup tails share all but
    the appended marker; plus whatever the synthetic vocabulary repeats
    across documents by chance — both engines see the same corpus, so
    chance repeats are part of the checked answer, not noise)."""
    return substring_dup_spans(_corpus(spark, sf_dir))


# --- exact-substring dedup REMOVAL (Lee et al., "Deduplicating Training
# Data Makes Language Models Better"): not just flagging duplicated
# spans but excising them from the text, keeping one canonical
# occurrence per duplicated gram. A word position is removed iff it is
# covered by at least one NON-canonical occurrence of a duplicated
# n-gram; the canonical occurrence is the (min doc_id, min pos) one, so
# exactly one copy of every duplicated passage survives corpus-wide and
# the result is a pure function of the data (no partition-order
# dependence). Reference scope: the reference repo has no corpus-level
# text rewriting at all — this is a BASELINE.json LLM-pipeline
# extension like the rest of this module.

def remove_dup_spans(docs: DataFrame, n: int = _SUBSTR_N) -> DataFrame:
    """Rewrite each document with corpus-duplicated word ``n``-gram
    occurrences excised → ``(doc_id, n_words, n_removed, kept_text)``.

    Scale shape (100 TB): the gram aggregate and the hit join move only
    8-byte ``xxhash64`` keys + (doc_id, pos) tuples, exactly like
    :func:`substring_dup_spans`. The rewrite itself never shuffles
    text: covered word positions are collapsed to ONE array per
    affected doc (metadata-sized — only docs containing duplicates
    appear), and that small side joins back to the docs scan where a
    JVM-side gap-expansion (sorted covered array → complement index
    runs → element_at gather) rewrites each doc in O(words + |cov|) —
    AQE broadcasts the positions side in the
    common mostly-unique-corpus case. Canonical-occurrence selection
    is ``min(struct(doc_id, pos))`` — a map-side-combinable agg, not
    a window.
    """
    cache.begin_plan()
    pos_sh = cache.pin(
        docs.select("doc_id", clean_words("text").alias("__w"))
        .select(
            "doc_id",
            F.posexplode(shingles_of_words(F.col("__w"), n)).alias("pos0", "s"),
        )
        .select(
            "doc_id",
            (F.col("pos0") + 1).alias("pos"),
            F.xxhash64("s").alias("h"),
        )
    )
    # Duplicated grams (>1 occurrence corpus-wide, within-doc repeats
    # included — Lee et al. dedup within documents too) with their
    # canonical occurrence.
    dup = (
        pos_sh.groupBy("h")
        .agg(
            F.count("*").alias("n_occ"),
            F.min(F.struct("doc_id", "pos")).alias("can"),
        )
        .filter(F.col("n_occ") > 1)
        .select("h", F.col("can.doc_id").alias("can_doc"), F.col("can.pos").alias("can_pos"))
    )
    removable = pos_sh.join(dup, "h").filter(
        ~((F.col("doc_id") == F.col("can_doc")) & (F.col("pos") == F.col("can_pos")))
    )
    # Aggregate the span STARTS (one row per removable occurrence) and
    # expand to covered word indices AFTER the shuffle, as a pure array
    # expression — exploding sequence() first would shuffle n× the rows
    # (measured 8×: 189 task-CPU-s → see SCALING.md round-10 pairing).
    covered = (
        removable.groupBy("doc_id")
        .agg(F.collect_list("pos").alias("starts"))
        .select(
            "doc_id",
            F.array_sort(
                F.array_distinct(
                    F.flatten(
                        F.transform("starts", lambda p: F.sequence(p, p + (n - 1)))
                    )
                )
            ).alias("cov"),
        )
    )
    words = docs.select("doc_id", clean_words("text").alias("__w"))
    out = words.join(covered, "doc_id", "left")
    cov = F.coalesce(F.col("cov"), F.array().cast("array<integer>"))
    # Rewrite cost bound (r10 verdict): the obvious
    # filter(__w, (w,i) -> !array_contains(cov, i+1)) is O(words·|cov|)
    # per doc — doc-bounded, but quadratic for a pathological fully-
    # duplicated long doc. Instead expand the SORTED covered array into
    # its complement gaps once (O(|cov|)) and gather kept words by
    # index (O(1) element_at per kept word): O(words + |cov|) total.
    # ext = [0, cov..., n_words+1] sentinels; consecutive pairs (a, b)
    # with b > a+1 contribute the kept index run [a+1, b-1].
    n_words = F.size("__w")
    ext = F.concat(
        F.array(F.lit(0)), cov, F.array((n_words + 1).cast("integer"))
    )
    m = F.size(ext)
    pairs = F.arrays_zip(
        F.slice(ext, 1, m - 1).alias("a"), F.slice(ext, 2, m - 1).alias("b")
    )
    kept_idx = F.flatten(
        F.transform(
            pairs,
            lambda p: F.when(
                p["b"] - p["a"] > 1, F.sequence(p["a"] + 1, p["b"] - 1)
            ).otherwise(F.array().cast("array<integer>")),
        )
    )
    # Short-circuit the common case: in a mostly-unique corpus most
    # docs have NO covered spans, and building sentinel/gap arrays for
    # them is pure overhead — CASE WHEN evaluates only the taken branch
    # per row, so untouched docs keep their word array at zero cost.
    kept = F.when(F.size(cov) == 0, F.col("__w")).otherwise(
        F.transform(kept_idx, lambda i: F.element_at(F.col("__w"), i))
    )
    return out.select(
        "doc_id",
        F.size("__w").alias("n_words"),
        (F.size("__w") - F.size(kept)).alias("n_removed"),
        F.array_join(kept, " ").alias("kept_text"),
    )


@register(
    "dedup_remove_spans",
    oracle=f"""
WITH corpus AS ({_CORPUS_SQL}),
pos_sh AS (
  SELECT doc_id, u.pos AS pos, u.s AS s
  FROM (
    SELECT doc_id, unnest({_pos_shingle_sql(_SUBSTR_N)}) AS u
    FROM corpus
  )
),
dup AS (
  SELECT s, min(struct_pack(doc_id := doc_id, pos := pos)) AS can
  FROM pos_sh GROUP BY s HAVING count(*) > 1
),
removable AS (
  SELECT p.doc_id, p.pos
  FROM pos_sh p JOIN dup d ON p.s = d.s
  WHERE NOT (p.doc_id = d.can.doc_id AND p.pos = d.can.pos)
),
covered AS (
  SELECT DISTINCT doc_id, pos + unnest(range(0, {_SUBSTR_N})) AS idx
  FROM removable
),
words AS (
  SELECT doc_id, u.pos AS idx, u.s AS w
  FROM (
    SELECT doc_id, unnest(list_filter(list_transform(
      range(1, len({_W_SQL}) + 1),
      i -> struct_pack(pos := i, s := ({_W_SQL})[i])), x -> x.s <> '')) AS u
    FROM corpus
  )
),
kept AS (
  SELECT w.doc_id, w.idx, w.w
  FROM words w LEFT JOIN covered c ON w.doc_id = c.doc_id AND w.idx = c.idx
  WHERE c.idx IS NULL
),
agg AS (
  SELECT doc_id, count(*) AS n_kept,
         string_agg(w, ' ' ORDER BY idx) AS kept_text
  FROM kept GROUP BY doc_id
),
nw AS (SELECT doc_id, len({_W_SQL}) AS n_words FROM corpus)
SELECT nw.doc_id,
       CAST(nw.n_words AS INTEGER) AS n_words,
       CAST(nw.n_words - coalesce(a.n_kept, 0) AS INTEGER) AS n_removed,
       coalesce(a.kept_text, '') AS kept_text
FROM nw LEFT JOIN agg a ON nw.doc_id = a.doc_id
""",
)
def dedup_remove_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract wrapper: :func:`remove_dup_spans` over the planted
    corpus. The planted exact copies lose their entire text (the
    originals, with smaller doc_ids, are canonical); the tail-appended
    near-dups keep only the words adjacent to the appended marker; and
    base docs keep everything except chance-repeated passages — all of
    which the oracle recomputes independently."""
    return remove_dup_spans(_corpus(spark, sf_dir))


# --- near-dup clustering: pairs → connected components -----------------------
#
# The missing last step of every dedup pipeline: pairwise hits (minhash,
# jaccard, cosine) only say "a ~ b"; keeping one canonical copy per
# GROUP requires the transitive closure — connected components over the
# similarity graph. Iterative min-label propagation, the standard
# distributed formulation (each round every node adopts the smallest
# label among itself and its neighbors; converges in O(diameter)
# rounds). Near-dup components are clique-ish, so the diameter is tiny;
# for adversarial long-chain graphs the big-star/small-star variant
# (Kiveris et al., "Connected Components in MapReduce") halves rounds —
# noted, not needed here.

_CC_MAX_ITERS = 20


@register(
    "dedup_cluster_components",
    oracle=f"""
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
sizes AS (SELECT cluster_id, count(*) AS cluster_size FROM comp GROUP BY cluster_id)
SELECT comp.doc AS doc_id, comp.cluster_id, sizes.cluster_size
FROM comp JOIN sizes ON comp.cluster_id = sizes.cluster_id
""",
)
def dedup_cluster_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract wrapper: :func:`connected_components` over the minhash
    near-dup pair graph."""
    return connected_components(
        dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    )


def _label_sum(labels: DataFrame):
    """Sum of the label column as decimal(38,0): a bigint sum of 64-bit
    ids (hashed doc ids near 2^63) overflows."""
    return labels.agg(F.sum(F.col("label").cast("decimal(38,0)"))).collect()[0][0]


def connected_components(
    pairs: DataFrame, max_iters: int = _CC_MAX_ITERS
) -> DataFrame:
    """Connected components over ANY undirected ``(doc_a, doc_b)`` pair
    frame → (doc_id, cluster_id = min doc_id in its component,
    cluster_size). Isolated docs never appear in ``pairs`` and are
    omitted (singletons).

    Distributed shape: labels and edges are (id, id) pairs — the
    similarity graph is ~#duplicate-pairs rows, orders of magnitude
    smaller than the corpus, and each round is one edge join + one
    min-agg plus one label self-join. The self-join is pointer jumping
    (label ← label-of-label, i.e. path halving): neighbor propagation
    alone moves a label ONE hop per round (O(diameter) rounds — a
    pathological 1000-link chain would blow max_iters), the combined
    step converges in O(log diameter) rounds — 2^max_iters diameter
    headroom. Convergence is detected with a 1-row sum aggregate (labels
    only ever decrease, so the label-sum strictly decreases iff any
    label moved — no full-frame comparison join needed); running out of
    rounds RAISES rather than returning silently-unconverged labels.
    """
    # localCheckpoint: iterative DataFrame algorithms must TRUNCATE
    # lineage each round, not just cache — persist() keeps the logical
    # plan growing, and analyzer/AQE re-planning cost compounds per
    # iteration (measured: 1.6 s → 3.2 s → 9.1 s per round with persist;
    # flat ~0.5 s with checkpointing). localCheckpoint trades executor-
    # failure recoverability for speed; a production run on a real
    # cluster would point spark.checkpoint.dir at durable storage and
    # use checkpoint() for the same effect.
    # Materialize the pair frame ONCE before mirroring it (optimization
    # r15): `pairs.union(pairs.swapped)` references the lazy pair plan
    # twice, and for LSH callers that plan is the full candidate+verify
    # pipeline — the funnel's neardup stage was paying minhash
    # verification twice per run (measured: the composed funnel's
    # neardup increment dropped ~25% task CPU from this line alone).
    # The mirrored union then reads the checkpointed rows twice, which
    # is two in-memory scans of an edge-sized frame, not two plan runs.
    ab = pairs.toDF("a", "b").localCheckpoint()
    edges = ab.union(ab.select(F.col("b").alias("a"), F.col("a").alias("b")))
    labels = (
        edges.select(F.col("a").alias("doc"))
        .distinct()
        .withColumn("label", F.col("doc"))
        .localCheckpoint()
    )
    prev_sum = _label_sum(labels)
    converged = False
    for _ in range(max_iters):
        nbr_min = (
            edges.join(labels, edges["b"] == labels["doc"])
            .groupBy(F.col("a").alias("doc2"))
            .agg(F.min("label").alias("nbr_min"))
        )
        stepped = labels.join(nbr_min, labels["doc"] == F.col("doc2"), "left").select(
            "doc",
            F.least(
                F.col("label"), F.coalesce(F.col("nbr_min"), F.col("label"))
            ).alias("label"),
        )
        # Pointer jumping: chase one level of indirection through the
        # label table itself. label is always a node id in the same
        # component, so label-of-label is too — the fixpoint (min id of
        # the component) is unchanged, but long propagation chains halve
        # every round.
        lbl2 = stepped.select(
            F.col("doc").alias("ref"), F.col("label").alias("ref_label")
        )
        new_labels = (
            stepped.join(lbl2, stepped["label"] == lbl2["ref"], "left")
            .select(
                "doc",
                F.least(
                    F.col("label"), F.coalesce(F.col("ref_label"), F.col("label"))
                ).alias("label"),
            )
            .localCheckpoint()
        )
        new_sum = _label_sum(new_labels)
        labels = new_labels
        if new_sum == prev_sum:
            converged = True
            break
        prev_sum = new_sum
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} rounds "
            "(component diameter > 2^rounds?) — raise max_iters; silently "
            "returning partial labels would mislabel clusters"
        )
    sizes = labels.groupBy("label").agg(F.count("*").alias("cluster_size"))
    return (
        labels.join(sizes, "label")
        .select(
            F.col("doc").alias("doc_id"),
            F.col("label").alias("cluster_id"),
            "cluster_size",
        )
    )


def cluster_keep_best(
    docs: DataFrame,
    pairs: DataFrame,
    score,
    max_iters: int = _CC_MAX_ITERS,
) -> DataFrame:
    """Quality-aware canonical selection: per near-dup cluster keep the
    HIGHEST-scoring document (tiebreak min doc_id), not blindly the
    min-id one → ``(doc_id, cluster_id, score, is_keeper)``.

    This is what production dedup actually does — when a page exists in
    five scrapes, keep the best extraction, not the first-crawled.
    Singletons (docs absent from ``pairs``) are their own keepers.

    Scale shape: components run on the pair graph only (corpus-scale
    text never enters); keeper selection is ``max(struct(score,
    −doc_id))`` — a map-side-combinable aggregate, NOT a per-cluster
    window (no sort, and the agg output is one row per cluster).
    ``score`` is a column name or Column over ``docs``.
    """
    s = F.col(score) if isinstance(score, str) else score
    comp = connected_components(pairs, max_iters=max_iters).select(
        "doc_id", "cluster_id"
    )
    scored = docs.select("doc_id", s.cast("double").alias("score"))
    j = scored.join(comp, "doc_id", "left").withColumn(
        "cluster_id", F.coalesce("cluster_id", F.col("doc_id"))
    )
    best = j.groupBy("cluster_id").agg(
        F.max(F.struct(F.col("score"), (-F.col("doc_id")).alias("negid"))).alias("m")
    )
    keepers = best.select("cluster_id", (-F.col("m.negid")).alias("__keeper"))
    return j.join(keepers, "cluster_id").select(
        "doc_id",
        "cluster_id",
        "score",
        (F.col("doc_id") == F.col("__keeper")).alias("is_keeper"),
    )


@register(
    "dedup_cluster_keep_best",
    oracle=f"""
WITH RECURSIVE corpus AS ({_CORPUS_SQL}),
mh AS MATERIALIZED (
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
scored AS (
  SELECT c.doc_id,
         coalesce(comp.cluster_id, c.doc_id) AS cluster_id,
         CAST(len({_W_SQL}) AS DOUBLE) AS score
  FROM corpus c LEFT JOIN comp ON c.doc_id = comp.doc
),
best AS (
  SELECT cluster_id,
         max(struct_pack(score := score, negid := -doc_id)) AS m
  FROM scored GROUP BY cluster_id
)
SELECT s.doc_id, s.cluster_id, s.score,
       s.doc_id = -(b.m.negid) AS is_keeper
FROM scored s JOIN best b ON s.cluster_id = b.cluster_id
""",
)
def dedup_cluster_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Library query: quality-aware keeper selection over the planted
    corpus with word count as the quality score — the tail-appended
    near-dups (5 extra words) must beat their bases, the case-variant
    exact copies tie and fall back to min doc_id (the base wins)."""
    corpus = _corpus(spark, sf_dir)
    pairs = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    return cluster_keep_best(
        corpus, pairs, F.size(clean_words("text"))
    )


# --- end-to-end dedup: corpus → pairs → components → reduction stats ---------

@register(
    "pipeline_dedup_end_to_end",
    oracle=f"""
WITH RECURSIVE mh AS MATERIALIZED (
  {{MINHASH}}
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
corpus AS ({_CORPUS_SQL})
SELECT (SELECT count(*) FROM corpus) AS n_docs,
       count(*) AS n_dup_members,
       count(DISTINCT cluster_id) AS n_clusters,
       count(*) - count(DISTINCT cluster_id) AS n_dropped,
       (SELECT count(*) FROM corpus) - (count(*) - count(DISTINCT cluster_id))
         AS n_kept
FROM comp
""".replace("{MINHASH}", _minhash_oracle().strip()),
)
def pipeline_dedup_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup family composed the way a user runs it: near-dup pairs
    (minhash LSH) → connected components → keep the min-id canonical per
    cluster → corpus reduction stats, one row:
    (n_docs, n_dup_members, n_clusters, n_dropped, n_kept).

    Every duplicate cluster keeps exactly its canonical member, so
    n_dropped = members − clusters and n_kept = n_docs − n_dropped.
    Scale shape is the sum of its parts (each documented on its own
    operator): the only additional work is two 1-row aggregates.
    """
    corpus = _corpus(spark, sf_dir)
    comp = connected_components(
        minhash_pairs(corpus).select("doc_a", "doc_b")
    )
    stats = comp.agg(
        F.count("*").alias("n_dup_members"),
        F.countDistinct("cluster_id").alias("n_clusters"),
    )
    totals = corpus.agg(F.count("*").alias("n_docs"))
    return totals.crossJoin(stats).select(
        "n_docs",
        "n_dup_members",
        "n_clusters",
        (F.col("n_dup_members") - F.col("n_clusters")).alias("n_dropped"),
        (F.col("n_docs") - (F.col("n_dup_members") - F.col("n_clusters"))).alias(
            "n_kept"
        ),
    )


# --- incremental connected components ----------------------------------------
#
# The cluster-store counterpart of the signature store: continuous
# ingest emits new near-dup PAIRS per batch (dedup_against_store), and
# re-running connected_components over ALL historical pairs per arrival
# is O(corpus) — the anti-pattern the signature store exists to avoid.
# The fold below is O(batch pairs + touched clusters): new pairs are
# edges between EXISTING CLUSTER LABELS, components run on that
# label-graph (duplicate-pairs-sized, not corpus-sized), and only rows
# of merged clusters are rewritten — through pipeline.merge.merge_into,
# so the store update is itself file-level copy-on-write.


def fold_components_into_store(
    spark: SparkSession,
    pairs: DataFrame,
    store_path: str,
    max_iters: int = _CC_MAX_ITERS,
) -> dict:
    """Fold a batch of undirected ``(doc_a, doc_b)`` pairs into the
    persisted assignment store at ``store_path`` (parquet rows
    ``doc_id, cluster_id``; created on first call). After the fold the
    store equals ``connected_components`` over the UNION of all pairs
    ever folded (pytest asserts exactly this equivalence), but the work
    done is proportional to the batch:

    - one partition-pruned/semi-joined read of the store restricted to
      the batch's doc_ids (their current labels);
    - components over the LABEL graph — one node per touched cluster,
      not per document;
    - a copy-on-write ``merge_into`` writing only (a) members of
      clusters whose root changed and (b) newly-seen docs.

    Returns {n_pair_docs, n_touched_clusters, n_rewritten, plus
    merge_into's file stats}.
    """
    from ..pipeline.compact import _fs
    from ..pipeline.merge import merge_into

    edges = pairs.select(
        F.col(pairs.columns[0]).cast("long").alias("doc_a"),
        F.col(pairs.columns[1]).cast("long").alias("doc_b"),
    )
    fs, root_p = _fs(spark, store_path)
    if not fs.exists(root_p):
        comp = connected_components(edges, max_iters=max_iters).select(
            "doc_id", "cluster_id"
        )
        comp.write.parquet(store_path)
        n = comp.count()
        return {
            "n_pair_docs": n,
            "n_touched_clusters": 0,
            "n_rewritten": n,
            "bootstrap": True,
        }

    store = spark.read.parquet(store_path)
    batch_docs = (
        edges.select(F.col("doc_a").alias("doc_id"))
        .unionByName(edges.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    # current label per batch doc: stored cluster_id, or own id if new.
    # The join's right side is batch-sized; AQE broadcasts it, so the
    # store pass is one semi-join-shaped scan.
    labeled = batch_docs.join(store, "doc_id", "left").select(
        "doc_id", F.coalesce("cluster_id", "doc_id").alias("label")
    )
    # label-graph edges: each batch pair connects two current labels
    lab_edges = (
        edges.join(labeled.withColumnRenamed("doc_id", "doc_a"), "doc_a")
        .withColumnRenamed("label", "la")
        .join(
            labeled.select(
                F.col("doc_id").alias("doc_b"), F.col("label").alias("lb")
            ),
            "doc_b",
        )
        .select("la", "lb")
        .filter(F.col("la") != F.col("lb"))
        .distinct()
    )
    lab_comp = (
        connected_components(lab_edges, max_iters=max_iters)
        .select(F.col("doc_id").alias("label"), F.col("cluster_id").alias("root"))
        if not lab_edges.isEmpty()
        else spark.createDataFrame([], "label long, root long")
    )
    remap = lab_comp.filter(F.col("label") != F.col("root")).persist()
    try:
        n_touched = remap.count()
        # rows to rewrite: store members of remapped clusters...
        moved = (
            store.withColumnRenamed("cluster_id", "label")
            .join(F.broadcast(remap), "label")
            .select("doc_id", F.col("root").alias("cluster_id"))
        )
        # ...plus newly-seen docs at their (possibly remapped) root
        new_docs = labeled.join(store, "doc_id", "left_anti").select(
            "doc_id", F.col("label")
        )
        new_rows = (
            new_docs.join(F.broadcast(remap), "label", "left")
            .select(
                "doc_id",
                F.coalesce("root", "label").alias("cluster_id"),
            )
        )
        updates = moved.unionByName(new_rows)
        stats = merge_into(spark, store_path, updates, key="doc_id")
        return {
            "n_pair_docs": batch_docs.count(),
            "n_touched_clusters": n_touched,
            "n_rewritten": stats["rows_matched"] + stats["rows_inserted"],
            **stats,
        }
    finally:
        remap.unpersist()


# --- persisted decontam probe store ------------------------------------------
#
# Probe suites (eval benchmarks, blocklists) are STATIC across ingest
# batches, but every decontam_overlap* call above reshingles them.
# For a continuously-ingesting corpus the probe side should be prepared
# ONCE: distinct probe shingles as parquet + the Bloom prefilter bits as
# one sidecar blob. Per-batch decontam then costs shingling the BATCH
# only — the probe store is read (metadata-sized vs the corpus) and the
# filter deserializes straight into the broadcast.


def write_probe_store(
    probe: DataFrame, path: str, n: int = _DECONTAM_N, fpp: float = 0.01
) -> dict:
    """Prepare a probe suite for repeated decontamination: distinct
    shingles under ``{path}/shingles`` (with their xxhash64, so batch
    runs never rehash the probe) and Bloom bits at
    ``{path}/_bloom.bin``. Returns {n_shingles, bloom_bytes}."""
    from ..functions.bloom import Bloom64
    from ..pipeline.compact import _fs

    path = path.rstrip("/")
    spark = probe.sparkSession
    sh = (
        exploded_shingles(probe, n)
        .select("s")
        .distinct()
        .withColumn("h", F.xxhash64("s"))
    )
    sh.write.mode("overwrite").parquet(f"{path}/shingles")
    sh_back = spark.read.parquet(f"{path}/shingles")
    hashes = [r["h"] for r in sh_back.select("h").collect()]
    bloom = Bloom64.build(hashes, fpp=fpp)
    fs, _ = _fs(spark, path)
    jvm_path = spark.sparkContext._jvm.org.apache.hadoop.fs.Path
    stream = fs.create(jvm_path(f"{path}/_bloom.bin"), True)
    stream.write(bytearray(bloom.to_bytes()))
    stream.close()
    return {"n_shingles": len(hashes), "bloom_bytes": bloom.nbytes()}


def decontam_overlap_against_store(
    docs: DataFrame, path: str, n: int = _DECONTAM_N
) -> DataFrame:
    """:func:`decontam_overlap` for a batch against a persisted probe
    store — output identical to the from-scratch plan (Bloom has no
    false negatives; survivors exact-verify against the stored shingle
    set), but the probe side costs a parquet read + one broadcast of
    pre-built bits instead of a reshingle per batch."""
    import pandas as pd

    from ..functions.bloom import Bloom64
    from ..pipeline.compact import _fs

    path = path.rstrip("/")
    spark = docs.sparkSession
    fs, _ = _fs(spark, path)
    jvm_path = spark.sparkContext._jvm.org.apache.hadoop.fs.Path
    jvm = spark.sparkContext._jvm
    stream = fs.open(jvm_path(f"{path}/_bloom.bin"))
    raw = bytes(jvm.org.apache.commons.io.IOUtils.toByteArray(stream))
    stream.close()
    bloom = Bloom64.from_bytes(raw)
    b_bloom = spark.sparkContext.broadcast(bloom)

    @F.pandas_udf("boolean")
    def _maybe_hit(h: pd.Series) -> pd.Series:
        return pd.Series(b_bloom.value.contains_many(h.to_numpy()))

    probe_sh = spark.read.parquet(f"{path}/shingles").select("s")
    cand = (
        exploded_shingles(docs, n)
        .withColumn("__h", F.xxhash64("s"))
        .filter(_maybe_hit(F.col("__h")))
        .drop("__h")
    )
    return (
        cand.join(probe_sh, "s")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_overlap"))
    )


# --- per-doc n-gram novelty --------------------------------------------------
#
# The per-document curation signal behind "how much of this doc is
# copied from elsewhere in the corpus": the count of word n-gram
# OCCURRENCES whose gram appears >=2 times corpus-wide (within-doc
# repeats included, the remove_dup_spans convention). Low novelty
# correlates with boilerplate/template/memorization risk — the standard
# per-doc companion to corpus-level substring dedup (Lee et al. report
# the same statistic as "fraction of tokens in a duplicate substring").


def ngram_novelty(docs: DataFrame, n: int = _SUBSTR_N) -> DataFrame:
    """(doc_id, n_grams, n_dup, is_novel): per-document duplicated-gram
    occurrence counts. ``is_novel`` = at most 10% of occurrences
    duplicated, decided as ``n_dup*10 <= n_grams`` — integer exact,
    no float ratio to round cross-engine.

    Scale shape (100 TB): identical to :func:`substring_dup_spans`'s
    first two stages — shingles collapse to 8-byte ``xxhash64`` keys
    before the occurrence-count aggregate, the join back is on the
    8-byte key, and the per-doc reduce moves (doc_id, flag) pairs.
    Text never shuffles.
    """
    cache.begin_plan()
    w = F.col("__w")
    sh = cache.pin(
        docs.select("doc_id", clean_words("text").alias("__w"))
        .select("doc_id", F.explode(shingles_of_words(w, n)).alias("s"))
        .select("doc_id", F.xxhash64("s").alias("h"))
    )
    counts = sh.groupBy("h").agg(F.count("*").alias("c"))
    per_doc = (
        sh.join(counts, "h")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(F.when(F.col("c") > 1, 1).otherwise(0)).alias("n_dup"),
        )
    )
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_grams", F.lit(0)).cast("long").alias("n_grams"),
            F.coalesce("n_dup", F.lit(0)).cast("long").alias("n_dup"),
            (
                F.coalesce("n_dup", F.lit(0)) * 10
                <= F.coalesce("n_grams", F.lit(0))
            ).alias("is_novel"),
        )
    )


@register(
    "text_novelty_ngrams",
    oracle=f"""
WITH corpus AS ({_CORPUS_SQL}),
sh AS (
  SELECT doc_id, unnest(list_filter(list_transform(
    range(1, greatest(len({_W_SQL}) - {_SUBSTR_N - 2}, 1)),
    i -> array_to_string(({_W_SQL})[i:i+{_SUBSTR_N - 1}], ' ')), x -> x <> '')) AS s
  FROM corpus
),
g AS (SELECT s, count(*) AS c FROM sh GROUP BY s),
d AS (
  SELECT sh.doc_id, count(*) AS n_grams,
         sum(CASE WHEN g.c > 1 THEN 1 ELSE 0 END) AS n_dup
  FROM sh JOIN g USING (s) GROUP BY sh.doc_id
)
SELECT corpus.doc_id,
       CAST(coalesce(d.n_grams, 0) AS BIGINT) AS n_grams,
       CAST(coalesce(d.n_dup, 0) AS BIGINT) AS n_dup,
       coalesce(d.n_dup, 0) * 10 <= coalesce(d.n_grams, 0) AS is_novel
FROM corpus LEFT JOIN d USING (doc_id)
""",
)
def text_novelty_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc novelty over the planted corpus (exact copies + near
    copies planted by :func:`_corpus`): planted copies and their
    originals score low-novelty, unique docs score high. The oracle
    counts the same grams by string; Spark counts by xxhash64 — the
    2^-64 collision trade every hash-based dedup makes."""
    return ngram_novelty(_corpus(spark, sf_dir))


def write_novelty_gram_store(docs: DataFrame, path: str, n: int = _SUBSTR_N) -> None:
    """Bootstrap the gram-count store for incremental novelty:
    ``(h, c)`` — one row per DISTINCT gram hash with its corpus
    occurrence count, written as ``ingest_batch=0``.

    HONEST COST NOTE (unlike the metadata-sized decontam/DSIR stores):
    n-gram vocabularies are nearly corpus-sized (most 8-grams are
    unique), so this store is O(distinct grams) — ~16 bytes per
    distinct gram, roughly an eighth of the text bytes. That is the
    inherent price of exact "seen before?" over a growing corpus; the
    trade is the same one a dedup index makes.
    """
    grams = (
        docs.select("doc_id", clean_words("text").alias("__w"))
        .select(F.explode(shingles_of_words(F.col("__w"), n)).alias("s"))
        .select(F.xxhash64("s").alias("h"))
        .groupBy("h")
        .agg(F.count("*").alias("c"))
        .withColumn("ingest_batch", F.lit(0))
    )
    grams.write.partitionBy("ingest_batch").mode("overwrite").parquet(path)


def read_novelty_gram_store(spark: SparkSession, path: str) -> DataFrame:
    """Corpus-so-far gram counts: fold the per-batch partitions."""
    st = spark.read.parquet(path)
    missing = {"h", "c"} - set(st.columns)
    if missing:
        raise ValueError(f"not a novelty gram store (missing {sorted(missing)}): {path}")
    return st.groupBy("h").agg(F.sum("c").alias("c"))


def novelty_against_store(
    docs: DataFrame, store_counts: DataFrame, n: int = _SUBSTR_N
) -> DataFrame:
    """Per-doc novelty of a BATCH against (history + the batch itself):
    an occurrence is duplicated iff its gram's history count plus its
    batch count is ≥ 2 — exactly the count the batch's grams would
    have in the concatenated corpus, so scoring batch b against the
    store of batches 0..b−1 equals full-corpus :func:`ngram_novelty`
    restricted to batch b's docs (pytest-locked).

    Scale shape: the batch gram stream joins the store on the 8-byte
    hash — with a small batch AQE broadcasts the batch side, so the
    per-trigger cost is one store scan of hashes (see the store's cost
    note) plus O(batch); nothing rescans text.
    """
    cache.begin_plan()
    w = F.col("__w")
    sh = cache.pin(
        docs.select("doc_id", clean_words("text").alias("__w"))
        .select("doc_id", F.explode(shingles_of_words(w, n)).alias("s"))
        .select("doc_id", F.xxhash64("s").alias("h"))
    )
    batch_counts = sh.groupBy("h").agg(F.count("*").alias("cb"))
    joined = batch_counts.join(
        store_counts.withColumnRenamed("c", "cs"), "h", "left"
    ).select(
        "h", (F.col("cb") + F.coalesce("cs", F.lit(0))).alias("ct")
    )
    per_doc = (
        sh.join(joined, "h")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(F.when(F.col("ct") > 1, 1).otherwise(0)).alias("n_dup"),
        )
    )
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_grams", F.lit(0)).cast("long").alias("n_grams"),
            F.coalesce("n_dup", F.lit(0)).cast("long").alias("n_dup"),
            (
                F.coalesce("n_dup", F.lit(0)) * 10
                <= F.coalesce("n_grams", F.lit(0))
            ).alias("is_novel"),
        )
    )


# --- cross-document line/paragraph dedup (round-15) --------------------------
#
# The CCNet recipe (Wenzek et al. 2020, "CCNet: Extracting High Quality
# Monolingual Datasets from Web Crawl Data", §3.1): web pages share
# enormous amounts of line-level boilerplate (cookie banners,
# navigation, license footers), so before any document-level dedup the
# corpus is deduplicated at PARAGRAPH granularity — normalize each
# line (lowercase, strip digits and punctuation), hash it, and keep
# one occurrence corpus-wide. RefinedWeb (Penedo et al. 2023) applies
# the same machinery with a frequency threshold to purge boilerplate
# outright. Both modes share one census; everything is JVM
# expressions + two hash exchanges — no Python, no window sort.

_LINE_NORM_RE = "[^a-z \t]"


def _line_norm(col):
    """CCNet line normalization, shared by both engines: lowercase →
    drop everything but letters/whitespace → collapse runs → trim.
    (CCNet lowercases and removes digits & punctuation before hashing;
    keeping only [a-z ] is the ASCII realization of that and matches
    the synthetic corpus vocabulary. DuckDB twin in the oracle uses
    the same two regex passes with the 'g' flag.)"""
    return F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(col), _LINE_NORM_RE, ""), " +", " "
        )
    )


def line_dedup(
    docs: DataFrame,
    mode: str = "keep_first",
    min_docs: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus-level line dedup → (doc_id, clean_text, n_lines,
    n_kept_lines) with every input row preserved (empty docs keep
    clean_text='').

    Modes:

    - ``keep_first`` (CCNet): each distinct normalized line survives
      only at its FIRST corpus position — min (doc_id, pos) over all
      occurrences; every later occurrence is dropped. Deterministic
      (no hash-arbitrary winners) and engine-portable.
    - ``frequent`` (RefinedWeb-style boilerplate purge, requires
      ``min_docs``): EVERY occurrence of a line appearing in >=
      min_docs DISTINCT documents is dropped; infrequent lines are
      untouched. The frequent set is small by construction
      (boilerplate), so it broadcasts.

    Lines whose normalized form is EMPTY (pure digits/punctuation/
    whitespace) carry no linguistic identity and are always kept
    verbatim — CCNet hashes normalized text, and an all-equal ''
    key would otherwise collapse every divider line in the corpus.

    Scale shape: posexplode → census groupBy on xxhash64(norm) (one
    exchange over 8-byte keys, never line text), winners join back
    (keep_first: co-partitioned hash join on the same key;
    frequent: broadcast anti join), regroup by doc with an
    array_sort(collect_list(struct(pos, line))) — no window, no
    Python, no all-pairs anything. At 100 TB this is the same
    shard-hash-join CCNet runs, expressed as three Catalyst stages.
    The winner agg plans as a SortAggregate (struct-min has no mutable
    hash buffer) over narrow (key, id, pos) rows — the per-partition
    sort keys on the 8-byte hash and the explode exchange dominates;
    at small SFs AQE broadcasts the winners side of the join back.
    Hash identity: line equality is xxhash64(norm) equality (the
    standard large-scale trade; a 64-bit collision merges two lines)."""
    if mode not in ("keep_first", "frequent"):
        raise ValueError(f"line_dedup: unknown mode {mode!r}")
    if mode == "frequent" and not min_docs:
        raise ValueError("line_dedup: mode='frequent' requires min_docs")
    d = F.col(id_col)
    lines = docs.select(
        d.alias("__id"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias(
            "__pos", "__line"
        ),
    )
    norm = _line_norm(F.col("__line"))
    keyed = lines.withColumn(
        "__k", F.when(norm != "", F.xxhash64(norm))
    )  # NULL key = no linguistic identity, never joins, always kept
    if mode == "keep_first":
        winners = (
            keyed.filter(F.col("__k").isNotNull())
            .groupBy("__k")
            .agg(F.min(F.struct("__id", "__pos")).alias("__w"))
        )
        kept = keyed.join(winners, "__k", "left").filter(
            F.col("__w").isNull()
            | ((F.col("__w.__id") == F.col("__id"))
               & (F.col("__w.__pos") == F.col("__pos")))
        )
    else:
        frequent = (
            keyed.filter(F.col("__k").isNotNull())
            .select("__k", "__id")
            .distinct()
            .groupBy("__k")
            .agg(F.count("*").alias("__n"))
            .filter(F.col("__n") >= int(min_docs))
            .select("__k")
        )
        kept = keyed.join(F.broadcast(frequent), "__k", "left_anti")
    regrouped = kept.groupBy("__id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__pos", "__line"))),
                lambda s: s["__line"],
            ),
            "\n",
        ).alias("clean_text"),
        F.count("*").alias("__n_kept"),
    )
    totals = docs.select(
        d.alias("__id"),
        F.size(F.split(F.col(text_col), "\n")).alias("__n_lines"),
    )
    return (
        totals.join(regrouped, "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            F.col("__n_lines").cast("int").alias("n_lines"),
            F.coalesce("__n_kept", F.lit(0)).cast("int").alias(
                "n_kept_lines"
            ),
        )
    )


def _line_dedup_gen_sql() -> str:
    """The synthesized multi-line pages both engines build: a header
    shared by EVERY doc, a line shared within each doc_id%7 group, the
    real document text, a per-doc unique line, and a pure-digit
    divider (empty normalized form — must always survive)."""
    return """
  SELECT doc_id,
         'Shared boilerplate header.' || chr(10) ||
         'Group ' || (doc_id % 7) || ' promo line!' || chr(10) ||
         trim(text) || chr(10) ||
         '12345' || chr(10) ||
         'Unique line ' || doc_id || ' ends here.' AS page
  FROM documents
"""


@register(
    "dedup_line_ccnet",
    oracle=f"""
WITH gen AS ({_line_dedup_gen_sql()}),
split_ AS (
  SELECT doc_id, page, string_split(page, chr(10)) AS lines FROM gen
),
exploded AS (
  SELECT doc_id,
         CAST(generate_subscripts(lines, 1) - 1 AS BIGINT) AS pos,
         unnest(lines) AS ln
  FROM split_
),
keyed AS (
  SELECT doc_id, pos, ln,
         trim(regexp_replace(regexp_replace(lower(ln), '{_LINE_NORM_RE}',
              '', 'g'), ' +', ' ', 'g')) AS norm
  FROM exploded
),
winners AS (
  SELECT norm, min(doc_id * 10 + pos) AS w
  FROM keyed WHERE norm <> '' GROUP BY norm
),
kept AS (
  SELECT k.doc_id, k.pos, k.ln
  FROM keyed k LEFT JOIN winners w ON k.norm = w.norm
  WHERE w.norm IS NULL OR k.doc_id * 10 + k.pos = w.w
)
SELECT g.doc_id,
       coalesce(
         (SELECT string_agg(ln, chr(10) ORDER BY pos)
          FROM kept WHERE kept.doc_id = g.doc_id), '') AS clean_text,
       CAST(len(string_split(g.page, chr(10))) AS INT) AS n_lines,
       CAST(coalesce(
         (SELECT count(*) FROM kept WHERE kept.doc_id = g.doc_id), 0)
         AS INT) AS n_kept_lines
FROM gen g
""",
)
def dedup_line_ccnet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet paragraph-dedup contract row, hash-checked end to end:
    synthesize 5-line pages IN-PLAN (corpus-wide shared header, a
    doc_id%7 group line, the real text, a pure-digit divider whose
    normalized form is empty, a unique trailer), run the REAL
    `line_dedup(mode='keep_first')`, and let the oracle replay the
    identical normalize → first-winner → regroup pipeline in SQL.
    A hash match pins: the CCNet normalization (both regex passes),
    min-(doc_id,pos) winner determinism (the oracle encodes the same
    order as doc_id*10+pos — pos < 10 here), the empty-norm always-
    keep rule, per-doc line order restoration, and the left-join
    row-preservation contract. New operators go straight into the
    contract (cap: parked behind the exact/remove-spans dedup family
    — see registry)."""
    from ..sources.readers import spread

    ensure_utc(spark)
    docs = spread(load_table(spark, sf_dir, "documents"))
    d = F.col("doc_id")
    page = F.concat(
        F.lit("Shared boilerplate header.\n"),
        F.lit("Group "), d % 7, F.lit(" promo line!\n"),
        F.trim("text"),
        F.lit("\n12345\n"),
        F.lit("Unique line "), d, F.lit(" ends here."),
    )
    frames = docs.select("doc_id", page.alias("text"))
    return line_dedup(frames, mode="keep_first")
