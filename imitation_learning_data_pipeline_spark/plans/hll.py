"""Mergeable HyperLogLog registers with deterministic hashing.

Completes the sketch family's third leg. agg_approx_sketches
(plans/relational2.py) already checks Spark's BUILT-IN HLL
(approx_count_distinct) against exact counts, and sketch_count_min
covers approximate frequency — but neither gives a PERSISTED,
MERGEABLE distinct-count state: the thing a continuous-ingest pipeline
needs to track "distinct n-grams / users / urls seen so far" without
re-scanning 100 TB per batch (same store discipline as the minhash
signature store and the novelty gram store).

This module computes the HLL registers themselves (Flajolet et al.
2007) from md5 — deterministic and bit-identical across engines, so
unlike library sketch blobs the register table is exactly
oracle-checkable, and the merge property is EXACT, not approximate:

    registers(A ∪ B) == merge_registers(registers(A), registers(B))

because both sides are per-bucket maxima of the same per-item rho.
(pytest asserts this as set equality, plus the estimator's error
bound.)

Register computation per item: h = md5(item); bucket = first
``p`` bits (p=8 → 256 registers, standard error 1.04/√256 ≈ 6.5%);
rho = 1 + number of leading zero bits in the NEXT 52 bits. Leading
zeros are counted on the hex string (strip leading '0' nibbles, then a
4-way CASE on the first surviving nibble) — exact integer/string ops
on both engines, deliberately avoiding floor(log2(x)) whose float
rounding can flip at powers of two.

Deployment note: Spark 3.5+ also ships Apache DataSketches HLL
(F.hll_sketch_agg / hll_union_agg / hll_sketch_estimate) whose binary
blobs are the right production store when cross-engine register parity
is not required; hll_union_datasketches() below routes through it so
the verbs stay the same.

Scale shape: ONE pass — per-row (bucket, rho) is a projection and the
register table is a groupBy(bucket).max(rho) with map-side partials,
so the shuffle carries at most ``partitions × 2^p`` tiny rows and the
stored state is 2^p rows regardless of corpus size. Merging stores is
an aggregate over register tables, never a corpus rescan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import clean_words
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

_P = 8  # register-index bits → 2^8 = 256 registers
_RHO_BITS = 52  # leading-zero window (13 hex nibbles)


def _rho_from_hex(vhex: Column) -> Column:
    """1 + leading zero bits of the 52-bit value written as 13 hex
    nibbles — exact string/integer arithmetic, no floats."""
    trimmed = F.regexp_replace(vhex, "^0*", "")
    nz_nibbles = (F.lit(13) - F.length(trimmed)) * 4
    first = F.substring(trimmed, 1, 1)
    in_nibble = (
        F.when(first == "1", 3)
        .when(first.isin("2", "3"), 2)
        .when(first.isin("4", "5", "6", "7"), 1)
        .otherwise(0)
    )
    return (
        F.when(trimmed == "", _RHO_BITS + 1)
        .otherwise(nz_nibbles + in_nibble + 1)
        .cast("int")
    )


def _bucket_rho(col: str, p: int) -> tuple[Column, Column]:
    """Shared (bucket, rho) projection for the grouped and ungrouped
    register builders. ``p`` must be a multiple of 4 (whole hex
    nibbles; 8 → 256 registers)."""
    if p % 4 != 0:
        raise ValueError(f"p must be a multiple of 4 (whole hex nibbles), got {p}")
    n_bucket_nibbles = p // 4
    h = F.md5(F.col(col).cast("string"))
    bucket = F.conv(F.substring(h, 1, n_bucket_nibbles), 16, 10).cast("long")
    rho = _rho_from_hex(F.substring(h, n_bucket_nibbles + 1, 13))
    return bucket, rho


def hll_registers(items: DataFrame, col: str = "item", p: int = _P) -> DataFrame:
    """(bucket, rho_max) register table for the distinct values of
    ``col`` — the mergeable HLL state. NULL items are ignored (the
    approx_count_distinct convention; a NULL would otherwise poison the
    register store and crash the estimator)."""
    bucket, rho = _bucket_rho(col, p)
    return (
        items.filter(F.col(col).isNotNull())
        .select(bucket.alias("bucket"), rho.alias("rho"))
        .groupBy("bucket")
        .agg(F.max("rho").alias("rho_max"))
    )


def hll_registers_by_group(
    items: DataFrame, group_col: str, col: str = "item", p: int = _P
) -> DataFrame:
    """Per-group register tables ``(group, bucket, rho_max)`` — one HLL
    per group key in a SINGLE aggregate (state ≤ groups × 2^p rows):
    per-language distinct-vocabulary tracking, per-source distinct-URL
    counts, etc. Merging grouped stores is groupBy(group, bucket).max,
    same exactness as the ungrouped merge."""
    bucket, rho = _bucket_rho(col, p)
    return (
        items.filter(F.col(col).isNotNull())
        .select(
            F.col(group_col).alias("group"),
            bucket.alias("bucket"),
            rho.alias("rho"),
        )
        .groupBy("group", "bucket")
        .agg(F.max("rho").alias("rho_max"))
    )


def hll_estimate_by_group(registers: DataFrame, p: int = _P) -> DataFrame:
    """(group, n_est) from grouped registers, computed DISTRIBUTED (one
    aggregate over the register table — no driver loop), with the same
    small-range linear-counting correction as :func:`hll_estimate`."""
    m = 1 << p
    alpha = 0.7213 / (1.0 + 1.079 / m)
    agg = registers.groupBy("group").agg(
        F.sum(F.pow(F.lit(2.0), -F.col("rho_max"))).alias("harm_filled"),
        F.count("*").alias("filled"),
    )
    zeros = F.lit(m) - F.col("filled")
    harm = F.col("harm_filled") + zeros.cast("double")  # empty buckets: 2^0
    raw = F.lit(alpha * m * m) / harm
    linear = F.lit(float(m)) * F.log(F.lit(float(m)) / zeros.cast("double"))
    return agg.select(
        "group",
        F.when((raw <= 2.5 * m) & (zeros > 0), linear).otherwise(raw).alias("n_est"),
    )


def merge_hll_registers(*stores: DataFrame) -> DataFrame:
    """Union any number of register tables into one — per-bucket max.
    EXACTLY equals computing registers over the concatenated inputs."""
    if not stores:
        raise ValueError("need at least one register table")
    out = stores[0]
    for s in stores[1:]:
        out = out.unionByName(s)
    return out.groupBy("bucket").agg(F.max("rho_max").alias("rho_max"))


def hll_estimate(registers: DataFrame, p: int = _P) -> float:
    """Cardinality estimate from a register table — the standard HLL
    estimator with the small-range (linear counting) correction.
    Driver-side arithmetic over ≤2^p rows (metadata-sized)."""
    m = 1 << p
    rows = registers.collect()
    filled = {int(r["bucket"]): int(r["rho_max"]) for r in rows}
    harm = sum(2.0 ** -filled.get(b, 0) for b in range(m))
    alpha = 0.7213 / (1.0 + 1.079 / m)
    raw = alpha * m * m / harm
    zeros = m - len(filled)
    if raw <= 2.5 * m and zeros > 0:
        import math

        return m * math.log(m / zeros)
    return raw


_HLL_META = "__hll_meta.json"  # inside the store dir — travels with the swap
_HLL_PENDING = "__hll_pending.json"  # SIBLING of the store dir (dir is swapped)


def _hll_meta(spark: SparkSession, fs, path: str) -> dict:
    """Fence metadata from inside the store dir; {} if absent (stores
    written before the fence existed, or first-batch paths)."""
    try:
        return _read_json(spark, fs, f"{path}/{_HLL_META}")
    except FileNotFoundError:
        return {}


def _hll_recover(spark: SparkSession, fs, path: str) -> bool:
    """Complete (or discard) a crashed fold commit. The journal sibling
    is the commit point: journal present → the staged store under
    ``<path>__hll_tmp`` is the truth, finish the swap; journal absent →
    pre-journal staging is safe to discard. Idempotent; call under the
    maintenance lock. Returns True if a journaled commit was finished."""
    # staged dir holds the FULL merged store (fence meta included)
    return _recover_staged_swap(
        spark, fs, path, f"{path}__hll_tmp", f"{path}{_HLL_PENDING}"
    )


def recover_hll_store(
    spark: SparkSession, path: str, stale_lock_s: float | None = None
) -> bool:
    """Standalone recovery for a crashed :func:`fold_into_hll_store`
    commit (the HLL twin of ``recover_rollup_fold``). Takes the
    maintenance lock; ``stale_lock_s`` enables takeover of a crashed
    holder's stranded lock by age. Returns True if a journaled commit
    was completed."""
    path = path.rstrip("/")
    fs, _ = _fs(spark, path)
    jvm_path = _jvm_path(spark)
    _acquire_lock(spark, fs, jvm_path, path, "hll-recover", stale_lock_s)
    try:
        return _hll_recover(spark, fs, path)
    finally:
        _release_table_lock(fs, jvm_path, path)


def write_hll_store(registers: DataFrame, path: str) -> None:
    """Persist a register table (2^p rows — one tiny file). Runs under
    the table maintenance lock: a bare overwrite racing a concurrent
    fold would silently drop the fold's batch (VERDICT r11 #1), so the
    first/replace write takes the same single-writer lock the fold
    does."""
    spark = registers.sparkSession
    path = path.rstrip("/")
    fs, _ = _fs(spark, path)
    jvm_path = _jvm_path(spark)
    _acquire_lock(spark, fs, jvm_path, path, "hll-write")
    try:
        _hll_recover(spark, fs, path)
        registers.coalesce(1).write.mode("overwrite").parquet(path)
    finally:
        _release_table_lock(fs, jvm_path, path)


def read_hll_store(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def fold_into_hll_store(
    spark: SparkSession,
    batch_registers: DataFrame,
    path: str,
    batch_id: int | None = None,
    stale_lock_s: float | None = None,
) -> dict:
    """Merge a batch's registers into the persisted store — O(2^p)
    work per batch, independent of corpus and batch size.

    SINGLE WRITER (closes VERDICT r11 #1): the read→merge→write runs
    under the table maintenance lock (``pipeline.compact._acquire_lock``
    — the same create-exclusive sibling lock merge/compact/rollup use),
    so two concurrent folds can no longer both read the store and
    last-writer-wins away a batch; the loser raises
    :class:`ConcurrentMaintenanceError`. ``batch_id`` (monotonic) fences
    replays: a batch ≤ the store's ``last_batch`` watermark is a no-op,
    so an orchestrator retry of an already-committed fold cannot
    double-count (registers are max-merged, so a double fold is
    value-safe, but the fence keeps the discipline uniform with the
    rollup store and makes retries observable).

    Crash safety: the merged store is staged to ``<path>__hll_tmp``
    (fence meta inside, so it travels with the swap) and committed by
    the journaled staged swap (``pipeline/fsio.py``, shared with the
    PSI baseline, matview rebuilds and the discover manifests): a
    SIBLING journal ``<path>__hll_pending.json`` lands atomically (the
    commit point), then old dir drops, staged dir renames in, journal
    clears.
    A crash before the journal discards staging and the replay folds
    normally; a crash after it is completed by the next fold/write on
    the path or by :func:`recover_hll_store`.

    Returns ``{"folded": bool}``.
    """
    from pyspark.errors import AnalysisException


    path = path.rstrip("/")
    fs, _ = _fs(spark, path)
    jvm_path = _jvm_path(spark)
    tmp = f"{path}__hll_tmp"
    _acquire_lock(spark, fs, jvm_path, path, "hll-fold", stale_lock_s)
    try:
        # complete any crashed prior commit first — it may advance the
        # fence, correctly turning THIS call into a replay
        _hll_recover(spark, fs, path)
        meta = _hll_meta(spark, fs, path)
        last = meta.get("last_batch")
        if batch_id is not None and last is not None and int(batch_id) <= int(last):
            return {"folded": False}
        # Missing store (first batch) => start fresh; any OTHER failure
        # must surface. The try covers ONLY the read — wrapping the
        # merge too would let a schema-mismatched store (e.g. a grouped
        # register table at this path) raise AnalysisException from
        # unionByName, read as "missing", and be silently overwritten
        # with one batch. A plain os.path.exists would similarly read
        # "absent" for every REMOTE store path (the novelty-stream
        # store discipline).
        try:
            existing = read_hll_store(spark, path)
        except AnalysisException:
            existing = None
        if existing is not None:
            if set(existing.columns) != {"bucket", "rho_max"}:
                raise ValueError(
                    f"fold_into_hll_store: {path} is not an HLL register "
                    f"store (columns {existing.columns}) — refusing to "
                    "overwrite it"
                )
            merged = merge_hll_registers(existing, batch_registers)
        else:
            merged = batch_registers
        out = merged.collect()  # ≤2^p rows
        _rm(fs, jvm_path, tmp)
        spark.createDataFrame(out, "bucket long, rho_max int").coalesce(
            1
        ).write.mode("overwrite").parquet(tmp)
        new_last = last
        if batch_id is not None:
            new_last = int(batch_id) if last is None else max(int(batch_id), int(last))
        _write_json(spark, fs, f"{tmp}/{_HLL_META}", {"last_batch": new_last})
        _staged_swap(spark, fs, path, tmp, f"{path}{_HLL_PENDING}")
        return {"folded": True}
    finally:
        _release_table_lock(fs, jvm_path, path)


def hll_union_datasketches(frames: list[DataFrame], col: str) -> DataFrame:
    """Production-store variant on Spark's built-in Apache DataSketches
    HLL: per-frame binary sketches unioned to one estimate row. Binary
    blobs are NOT cross-engine comparable (hence the md5-register
    formulation above for the oracle-checked contract), but they are
    the right persisted state where only Spark reads the store."""
    sketches = [
        f.agg(F.hll_sketch_agg(F.col(col).cast("string")).alias("sk")) for f in frames
    ]
    allsk = sketches[0]
    for s in sketches[1:]:
        allsk = allsk.unionByName(s)
    return allsk.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("n_est")
    )


# ONE tokenizer definition: derive from dedup._W_SQL (see its
# one-definition rationale) instead of a third hand-rolled copy.
from .dedup import _W_SQL as _DEDUP_W_SQL  # noqa: E402

_TOKS_SQL = f"""
  SELECT unnest({_DEDUP_W_SQL}) AS word FROM documents
"""


@register(
    "sketch_hll_registers",
    oracle=f"""
WITH toks AS ({_TOKS_SQL}),
reg AS (
  SELECT ('0x' || substr(md5(word), 1, 2))::BIGINT AS bucket,
         ltrim(substr(md5(word), 3, 13), '0') AS trimmed
  FROM toks
),
rho AS (
  SELECT bucket,
         CASE WHEN trimmed = '' THEN {_RHO_BITS + 1}
              ELSE (13 - length(trimmed)) * 4
                   + CASE WHEN substr(trimmed, 1, 1) = '1' THEN 3
                          WHEN substr(trimmed, 1, 1) IN ('2', '3') THEN 2
                          WHEN substr(trimmed, 1, 1) IN ('4', '5', '6', '7') THEN 1
                          ELSE 0 END
                   + 1 END AS rho
  FROM reg
)
SELECT bucket, CAST(max(rho) AS INT) AS rho_max
FROM rho GROUP BY bucket
""",
)
def sketch_hll_registers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract query: the HLL register table of the corpus word
    stream (the distinct-vocabulary tracker). 256 integer rows —
    bit-exact across engines by construction."""
    ensure_utc(spark)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    words = docs.select(F.explode(clean_words("text")).alias("item"))
    return hll_registers(words, "item", p=_P)
