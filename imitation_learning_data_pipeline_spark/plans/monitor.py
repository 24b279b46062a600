"""Corpus drift monitoring: Population Stability Index between two
scored corpus slices (reference vs current).

PSI is the standard production monitor for "did my data shift": bucket
both populations on a score in [0,1), then
``PSI = Σ_b (p_b − q_b)·ln(p_b / q_b)`` over the buckets (p = reference
proportion, q = current). Conventional reading: < 0.1 stable, 0.1–0.25
moderate shift, > 0.25 investigate. At 100 TB a drift check must be a
pair of bucket-count aggregates — never a distribution test over raw
rows — and that is all this is: two map-side-combinable counts plus
k-row arithmetic.

Cross-engine determinism (registry float rules): add-one smoothing
makes every proportion a ratio of exact integers (identical doubles in
both engines), ONE ln per bucket mirrored structurally in the oracle,
and the per-bucket PSI contribution is integer-quantized at 1e-6
(``functions/rounding.py`` discipline) so the total is an exact
integer sum.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..pipeline.compact import _acquire_lock, _release_table_lock
from ..pipeline.fsio import (
    _fs,
    _jvm_path,
    _read_json,
    _recover_staged_swap,
    _rm,
    _staged_swap,
    _write_json,
)
from ..session import ensure_utc
from ..sources import load_table
from .registry import register

_DRIFT_BUCKETS = 10
_PSI_SCALE = 1000000


def score_drift_psi(
    ref: DataFrame,
    cur: DataFrame,
    score_col: str = "score",
    n_buckets: int = _DRIFT_BUCKETS,
) -> DataFrame:
    """(bucket, n_ref, n_cur, psi_int): per-bucket PSI contributions
    between two scored frames; ``sum(psi_int)/1e6`` is the PSI.

    Scores are bucketed ``least(floor(s·B), B−1)`` (scores in [0,1);
    out-of-range clamps into the edge buckets). Every bucket 0..B−1
    appears (0-filled via a B-row spine), so two monitors over
    different slices always align row-for-row. NULL scores are
    EXCLUDED from both populations (a null would otherwise fall off
    the spine and silently vanish from the proportions) — monitor null
    rates separately if nullability itself is the drift signal.
    """
    spark = ref.sparkSession

    def counts(df: DataFrame, name: str) -> DataFrame:
        b = F.greatest(
            F.lit(0),
            F.least(
                F.floor(F.col(score_col) * n_buckets).cast("int"),
                F.lit(n_buckets - 1),
            ),
        )
        return (
            df.filter(F.col(score_col).isNotNull())
            .select(b.alias("bucket"))
            .groupBy("bucket")
            .agg(F.count("*").alias(name))
        )

    spine = spark.range(n_buckets).select(F.col("id").cast("int").alias("bucket"))
    joined = (
        spine.join(counts(ref, "n_ref"), "bucket", "left")
        .join(counts(cur, "n_cur"), "bucket", "left")
        .select(
            "bucket",
            F.coalesce("n_ref", F.lit(0)).cast("long").alias("n_ref"),
            F.coalesce("n_cur", F.lit(0)).cast("long").alias("n_cur"),
        )
    )
    totals = joined.agg(
        F.sum("n_ref").alias("N_ref"), F.sum("n_cur").alias("N_cur")
    )
    j, t = joined.alias("j"), totals.alias("t")
    bl = F.lit(n_buckets)
    p = (F.col("j.n_ref") + 1).cast("double") / (F.col("t.N_ref") + bl).cast("double")
    q = (F.col("j.n_cur") + 1).cast("double") / (F.col("t.N_cur") + bl).cast("double")
    psi = (p - q) * F.log(p / q)
    return (
        j.crossJoin(F.broadcast(t))
        .select(
            F.col("j.bucket").alias("bucket"),
            F.col("j.n_ref").alias("n_ref"),
            F.col("j.n_cur").alias("n_cur"),
            F.round(psi * _PSI_SCALE).cast("long").alias("psi_int"),
        )
        .orderBy("bucket")
    )


_SCORE_SQL = "('0x' || substr(md5('ppl' || '|' || text), 1, 8))::BIGINT / 4294967296.0"


@register(
    "monitor_score_drift",
    oracle=f"""
WITH s AS (
  SELECT source,
         greatest(0, least(CAST(floor({_SCORE_SQL} * {_DRIFT_BUCKETS}) AS INTEGER),
                           {_DRIFT_BUCKETS - 1})) AS bucket
  FROM documents
),
spine AS (SELECT unnest(range(0, {_DRIFT_BUCKETS})) AS bucket),
r AS (SELECT bucket, count(*) AS n_ref FROM s WHERE source = 'src0' GROUP BY bucket),
c AS (SELECT bucket, count(*) AS n_cur FROM s WHERE source <> 'src0' GROUP BY bucket),
j AS (
  SELECT spine.bucket,
         coalesce(r.n_ref, 0) AS n_ref,
         coalesce(c.n_cur, 0) AS n_cur
  FROM spine LEFT JOIN r USING (bucket) LEFT JOIN c USING (bucket)
),
t AS (SELECT sum(n_ref) AS N_ref, sum(n_cur) AS N_cur FROM j)
SELECT CAST(j.bucket AS INTEGER) AS bucket,
       CAST(j.n_ref AS BIGINT) AS n_ref,
       CAST(j.n_cur AS BIGINT) AS n_cur,
       CAST(round(
         (CAST(j.n_ref + 1 AS DOUBLE) / CAST(t.N_ref + {_DRIFT_BUCKETS} AS DOUBLE)
          - CAST(j.n_cur + 1 AS DOUBLE) / CAST(t.N_cur + {_DRIFT_BUCKETS} AS DOUBLE))
         * ln((CAST(j.n_ref + 1 AS DOUBLE) / CAST(t.N_ref + {_DRIFT_BUCKETS} AS DOUBLE))
              / (CAST(j.n_cur + 1 AS DOUBLE) / CAST(t.N_cur + {_DRIFT_BUCKETS} AS DOUBLE)))
         * {_PSI_SCALE}) AS BIGINT) AS psi_int
FROM j CROSS JOIN t
""",
)
def monitor_score_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drift between the 'src0' slice of the documents table and the
    rest, on the deterministic proxy perplexity score (md5-based —
    mirrored bit-exactly in the oracle). The proxy is uniform by
    construction, so this checks the MACHINERY cross-engine; the
    planted-drift detection semantics are pytest-locked with a shifted
    score distribution."""
    from .sampling import proxy_perplexity_score

    ensure_utc(spark)
    docs = load_table(spark, sf_dir, "documents").select("source", "text")
    scored = docs.select(
        "source", proxy_perplexity_score("text").alias("score")
    )
    return score_drift_psi(
        scored.filter(F.col("source") == "src0"),
        scored.filter(F.col("source") != "src0"),
    )


# --- persisted drift baseline: monitor production batches at O(batch) --------


def drift_bucket_counts(
    df: DataFrame, score_col: str = "score", n_buckets: int = _DRIFT_BUCKETS
) -> DataFrame:
    """Full-spine (bucket, n) counts of a scored frame — the persistable
    PSI population state (B integer rows; NULL scores excluded, same
    contract as score_drift_psi)."""
    spark = df.sparkSession
    b = F.greatest(
        F.lit(0),
        F.least(
            F.floor(F.col(score_col) * n_buckets).cast("int"),
            F.lit(n_buckets - 1),
        ),
    )
    counts = (
        df.filter(F.col(score_col).isNotNull())
        .select(b.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("n"))
    )
    spine = spark.range(n_buckets).select(F.col("id").cast("int").alias("bucket"))
    return spine.join(counts, "bucket", "left").select(
        "bucket", F.coalesce("n", F.lit(0)).cast("long").alias("n")
    )


def write_drift_baseline(
    ref: DataFrame,
    path: str,
    score_col: str = "score",
    n_buckets: int = _DRIFT_BUCKETS,
) -> None:
    """Persist the reference population's bucket counts — computed ONCE
    over the (possibly huge) reference slice; every later batch audit
    is O(batch) against these B rows. Counts are additive, so folding a
    grown reference is a union + sum, never a rescan.

    Runs under the table maintenance lock, mirroring ``write_hll_store``
    (VERDICT r11 #1's class of bug, flagged for this twin in ADVICE
    r12): a bare overwrite racing a concurrent ``fold_drift_baseline``
    would clobber a mid-swap store or last-writer-wins away a folded
    batch. A crashed fold's journaled swap is completed FIRST, then the
    rebuild is staged and swapped in the same way, so a rebuild that
    fails leaves the previous baseline. A rebuild legitimately resets
    the batch-id fence (it founds a new baseline epoch)."""
    spark = ref.sparkSession
    path = path.rstrip("/")
    fs, _ = _fs(spark, path)
    jvm_path = _jvm_path(spark)
    tmp, pending = f"{path}__psi_tmp", f"{path}{_PSI_PENDING}"
    _acquire_lock(spark, fs, jvm_path, path, "psi-write")
    try:
        _recover_staged_swap(spark, fs, path, tmp, pending)
        drift_bucket_counts(ref, score_col, n_buckets).coalesce(
            1
        ).write.mode("overwrite").parquet(tmp)
        _staged_swap(spark, fs, path, tmp, pending)
    finally:
        _release_table_lock(fs, jvm_path, path)


def read_drift_baseline(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def psi_against_baseline(
    cur: DataFrame,
    baseline: DataFrame,
    score_col: str = "score",
) -> DataFrame:
    """score_drift_psi where the reference side is a PERSISTED baseline
    (read_drift_baseline) instead of a frame to re-bucket: identical
    output schema (bucket, n_ref, n_cur, psi_int), the batch is the
    only population scanned. n_buckets is the baseline's row count (the
    spine is stored whole)."""
    n_buckets = baseline.count()
    ref_counts = baseline.select("bucket", F.col("n").alias("n_ref"))
    cur_counts = drift_bucket_counts(cur, score_col, n_buckets).select(
        "bucket", F.col("n").alias("n_cur")
    )
    joined = ref_counts.join(cur_counts, "bucket")
    totals = joined.agg(
        F.sum("n_ref").alias("N_ref"), F.sum("n_cur").alias("N_cur")
    )
    j, t = joined.alias("j"), totals.alias("t")
    bl = F.lit(n_buckets)
    p = (F.col("j.n_ref") + 1).cast("double") / (F.col("t.N_ref") + bl).cast("double")
    q = (F.col("j.n_cur") + 1).cast("double") / (F.col("t.N_cur") + bl).cast("double")
    psi = (p - q) * F.log(p / q)
    return (
        j.crossJoin(F.broadcast(t))
        .select(
            F.col("j.bucket").alias("bucket"),
            F.col("j.n_ref").alias("n_ref"),
            F.col("j.n_cur").alias("n_cur"),
            F.round(psi * _PSI_SCALE).cast("long").alias("psi_int"),
        )
        .orderBy("bucket")
    )


_PSI_META = "__psi_meta.json"  # inside the baseline dir — travels with the swap
_PSI_PENDING = "__psi_pending.json"  # SIBLING of the baseline dir


def _psi_meta(spark: SparkSession, fs, path: str) -> dict:
    try:
        return _read_json(spark, fs, f"{path}/{_PSI_META}")
    except FileNotFoundError:
        return {}


def fold_drift_baseline(
    batch: DataFrame,
    path: str,
    score_col: str = "score",
    batch_id: int | None = None,
    stale_lock_s: float | None = None,
) -> dict:
    """GROW a persisted drift baseline with a new reference batch —
    counts are additive, so the fold is bucket-counts(batch) + the
    stored B rows, never a reference rescan (the write_drift_baseline
    contract made concrete; r11 verdict item 9).

    Same single-writer discipline as the HLL register fold (the shared
    ``pipeline/fsio.py`` staged swap): maintenance lock around
    read→sum→write, a monotonic ``batch_id`` fence in ``__psi_meta.json``
    (a replayed fold is a NO-OP — counts are sums, so an unfenced
    orchestrator retry would double-count the batch, unlike the
    max-merge registers), and a journaled staged-dir swap so a crash
    anywhere converges. Returns ``{"folded": bool}``.
    """
    spark = batch.sparkSession
    path = path.rstrip("/")
    fs, _ = _fs(spark, path)
    jvm_path = _jvm_path(spark)
    tmp, pending = f"{path}__psi_tmp", f"{path}{_PSI_PENDING}"
    _acquire_lock(spark, fs, jvm_path, path, "psi-fold", stale_lock_s)
    try:
        _recover_staged_swap(spark, fs, path, tmp, pending)
        if not fs.exists(jvm_path(path)):
            raise ValueError(
                f"fold_drift_baseline: no baseline at {path} — bootstrap "
                "with write_drift_baseline first (growing an absent "
                "store would silently found the baseline on one batch)"
            )
        meta = _psi_meta(spark, fs, path)
        last = meta.get("last_batch")
        if batch_id is not None and last is not None and int(batch_id) <= int(last):
            return {"folded": False}
        baseline = read_drift_baseline(spark, path)
        if set(baseline.columns) != {"bucket", "n"}:
            raise ValueError(
                f"fold_drift_baseline: {path} is not a drift baseline "
                f"(columns {baseline.columns}) — refusing to overwrite it"
            )
        n_buckets = baseline.count()
        grown = (
            baseline.unionByName(drift_bucket_counts(batch, score_col, n_buckets))
            .groupBy("bucket")
            .agg(F.sum("n").cast("long").alias("n"))
        )
        rows = grown.collect()  # B rows — metadata-sized
        _rm(fs, jvm_path, tmp)
        spark.createDataFrame(rows, "bucket int, n long").coalesce(
            1
        ).write.mode("overwrite").parquet(tmp)
        new_last = last
        if batch_id is not None:
            new_last = int(batch_id) if last is None else max(int(batch_id), int(last))
        _write_json(spark, fs, f"{tmp}/{_PSI_META}", {"last_batch": new_last})
        _staged_swap(spark, fs, path, tmp, pending)
        return {"folded": True}
    finally:
        _release_table_lock(fs, jvm_path, path)
