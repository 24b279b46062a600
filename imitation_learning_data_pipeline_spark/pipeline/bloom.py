"""Per-file Bloom filters: point-lookup data skipping for equality
predicates.

The manifest's min/max stats (manifest.py) prune RANGE predicates, but
they only bite when the layout clusters the column — on an unclustered
high-cardinality key (``doc_id = 'x'`` against files written in arrival
order) every file's [min, max] spans the whole key space and nothing
skips. This is exactly the gap Parquet column bloom filters and
Iceberg's puffin blobs fill: a small per-file bit set that answers
"might this file contain value v?" with NO false negatives, so a
definite "no" skips the file safely and a false positive merely reads
a file that turns out empty of matches.

Reference parity note: the reference pipeline has no metadata layer at
all (it re-lists and re-reads per run — scripts/neura.py); this module
is part of the scale story the reference lacks.

Design (minimum viable local form of the Iceberg pattern):

- Build is DISTRIBUTED: one column-pruned scan hashes the requested
  columns JVM-side (``xxhash64(cast(col as string))`` — casting first
  makes the probe expression type-independent), then
  ``applyInPandas`` grouped by ``_metadata.file_path`` folds each
  file's hashes into an ``m``-bit array with numpy (double hashing,
  k probes). Only the finished bit sets — O(#files × bloom_bytes) —
  ever reach the driver.
- Storage is a sidecar JSON next to the manifest
  (``_manifest/blooms.json``): {"cols", "nbytes", "k",
  "blooms": {rel: {col: base64}}}. Written atomically (tmp+rename),
  rewritten incrementally by commit deltas (drop dead rels, build
  fresh blooms for just-added files — O(touched), like stats).
- Probe is driver-side pure Python over the sidecar — but the probe
  HASH comes from a one-row Spark job evaluating the *same
  expression* the build used (``xxhash64(cast(lit(v) as string))``),
  so build/probe parity is by construction, not by reimplementing
  XXH64 and Spark's type serialization in Python.

Sizing: ``nbytes`` (default 4096 = 32,768 bits) with k=7 gives ~1%
false positives up to ~3.4k distinct values per file and degrades
GRACEFULLY above that — a saturated bloom keeps every file (false
positives), it never wrongly skips (no false negatives), so sizing is
a performance knob, never a correctness one. At 100 TB the sidecar is
#files × nbytes (4 GB for 1M files at the default) — at that scale
the deployment mapping is Parquet's native column blooms
(``parquet.bloom.filter.enabled``) or Iceberg puffin files, which
shard the blobs instead of one JSON; this module keeps the repo's
plain-parquet tables honest in the meantime.
"""

from __future__ import annotations

import base64

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from .fsio import _fs, _jvm_path, _read_json, _write_json

BLOOM_REL = "_manifest/blooms.json"

_DEFAULT_NBYTES = 4096
_DEFAULT_K = 7


def _bloom_path(path: str) -> str:
    return f"{path.rstrip('/')}/{BLOOM_REL}"


def has_blooms(spark: SparkSession, path: str) -> bool:
    fs, _ = _fs(spark, path)
    return bool(fs.exists(_jvm_path(spark)(_bloom_path(path))))


def read_bloom_sidecar(spark: SparkSession, path: str) -> dict:
    fs, _ = _fs(spark, path)
    return _read_json(spark, fs, _bloom_path(path))


def _hash_col(c: str):
    """The build-side hash expression. Casting to string first makes
    the value hash independent of the column's physical type, so the
    probe can hash any Python literal through the same cast."""
    return F.xxhash64(F.col(c).cast("string"))


def probe_hashes(
    spark: SparkSession, values: list, types: list | None = None
) -> list[int]:
    """xxhash64 of each probe literal THROUGH THE BUILD EXPRESSION —
    one 1-row Spark job for the whole batch, guaranteeing bit-exact
    build/probe parity (Spark's own XXH64 + Spark's own cast-to-string
    formatting; no Python reimplementation to drift).

    ``types`` (parallel to ``values``; None entries allowed) routes
    each literal through the BLOOMED COLUMN'S type first:
    ``lit(v).cast(col_type).cast('string')`` renders exactly what the
    build hashed from the column. Without it, a timestamp literal
    parsed to its ISO 'T' form (the stats serializer's shape) hashes a
    different string than the column's own cast ('2026-01-01 00:00:00'
    with a space) — a guaranteed false negative."""
    if not values:
        return []

    def _expr(v, t):
        lit = F.lit(v)
        if t:
            lit = lit.cast(t)
        return F.xxhash64(lit.cast("string"))

    ts = types if types is not None else [None] * len(values)
    row = spark.range(1).select(
        *[_expr(v, t).alias(f"h{i}") for i, (v, t) in enumerate(zip(values, ts))]
    ).collect()[0]
    return [row[f"h{i}"] for i in range(len(values))]


def _positions(h: int, m: int, k: int) -> list[int]:
    """Double-hashing probe positions (Kirsch-Mitzenmacher): the 64-bit
    hash splits into two 32-bit halves; position_i = (h1 + i*h2) mod m.
    Mirrors the vectorized numpy build in ``_build_bits``."""
    hu = h & 0xFFFFFFFFFFFFFFFF
    h1 = hu & 0xFFFFFFFF
    h2 = ((hu >> 32) | 1) & 0xFFFFFFFF
    return [(h1 + i * h2) % m for i in range(k)]


def bloom_might_contain(bits_b64: str, h: int, k: int) -> bool:
    """Membership test against one base64 bit set. False ⇒ the value is
    DEFINITELY absent from the file; True ⇒ maybe present."""
    bits = base64.b64decode(bits_b64)
    m = len(bits) * 8
    for pos in _positions(h, m, k):
        if not (bits[pos >> 3] >> (pos & 7)) & 1:
            return False
    return True


def build_file_blooms(
    spark: SparkSession,
    path: str,
    cols: list[str],
    nbytes: int = _DEFAULT_NBYTES,
    k: int = _DEFAULT_K,
    only_paths: list[str] | None = None,
) -> dict:
    """Distributed per-file bloom build → {rel: {col: base64}}.

    One column-pruned scan; hashing is JVM-side (xxhash64), the bit
    folding is an Arrow-batched pandas group per file (numpy
    ``bitwise_or.at`` — vectorized, no per-row Python). ``only_paths``
    restricts to an explicit file list for O(touched) incremental
    commits, mirroring manifest._collect_stats."""
    import numpy as np
    import pandas as pd

    if only_paths:
        df = spark.read.option("basePath", path).parquet(*only_paths)
    else:
        df = spark.read.parquet(path)
    missing = [c for c in cols if c not in df.columns]
    if missing:
        raise ValueError(f"bloom: columns not in table: {missing}")
    m = nbytes * 8
    hashed = df.select(
        F.col("_metadata.file_path").alias("__fp"),
        *[_hash_col(c).alias(f"__h_{c}") for c in cols],
    )

    out_cols = list(cols)  # close over a plain list, not the arg name

    def _build(pdf):
        rows = []
        fp = pdf["__fp"].iloc[0]
        for c in out_cols:
            h = pdf[f"__h_{c}"].to_numpy()
            h = h[pd.notna(h)].astype(np.uint64)
            bits = np.zeros(nbytes, dtype=np.uint8)
            h1 = (h & np.uint64(0xFFFFFFFF)) % np.uint64(m)
            h2 = ((h >> np.uint64(32)) | np.uint64(1)) & np.uint64(0xFFFFFFFF)
            for i in range(k):
                pos = (h1 + np.uint64(i) * h2) % np.uint64(m)
                np.bitwise_or.at(
                    bits,
                    (pos >> np.uint64(3)).astype(np.int64),
                    (np.uint8(1) << (pos & np.uint64(7)).astype(np.uint8)),
                )
            rows.append((fp, c, bits.tobytes()))
        return pd.DataFrame(rows, columns=["fp", "col", "bits"])

    built = (
        hashed.groupBy("__fp")
        .applyInPandas(_build, schema="fp string, col string, bits binary")
        .collect()
    )
    fs, _ = _fs(spark, path)
    qual = fs.makeQualified(_jvm_path(spark)(path)).toString().rstrip("/")
    blooms: dict = {}
    for r in built:
        fp = r["fp"]
        rel = fp[len(qual) + 1 :] if fp.startswith(qual) else fp
        blooms.setdefault(rel, {})[r["col"]] = base64.b64encode(
            bytes(r["bits"])
        ).decode()
    return blooms


def write_blooms(
    spark: SparkSession,
    path: str,
    cols: list[str],
    nbytes: int = _DEFAULT_NBYTES,
    k: int = _DEFAULT_K,
) -> dict:
    """Bootstrap (or wholesale-rebuild) the bloom sidecar for a
    manifested table. Requires the manifest (the live-file set the
    blooms describe); takes the maintenance lock for the same reason
    write_manifest does — a build racing a commit could persist blooms
    for a torn file set."""
    from .compact import _acquire_lock, _lock_path, _release_table_lock
    from .manifest import has_manifest, read_manifest_entries

    path = path.rstrip("/")
    if not has_manifest(spark, path):
        raise ValueError(
            f"bloom: {path} has no manifest — bootstrap with "
            "write_manifest() first (blooms prune the manifest's file set)"
        )
    fs, _ = _fs(spark, path)
    jvm_path = _jvm_path(spark)
    _acquire_lock(spark, fs, jvm_path, path, "write_blooms")
    try:
        blooms = build_file_blooms(spark, path, cols, nbytes, k)
        # zero-row part files produce no pandas group: record an
        # explicitly-empty bloom so pruning skips them outright
        empty = base64.b64encode(bytes(nbytes)).decode()
        for rel, _b in read_manifest_entries(spark, path)["files"]:
            blooms.setdefault(rel, {c: empty for c in cols})
        payload = {
            "cols": list(cols),
            "nbytes": nbytes,
            "k": k,
            "blooms": blooms,
            # probe-parity metadata: each bloomed column's type (the
            # probe casts literals through it before the string hash)
            # and the build session's timezone (timestamp→string
            # rendering is tz-dependent; a probe under a different tz
            # degrades those columns to always-keep instead of risking
            # false negatives)
            "types": {
                c: t
                for c, t in spark.read.parquet(path).dtypes
                if c in set(cols)
            },
            "timezone": spark.conf.get("spark.sql.session.timeZone"),
        }
        _write_json(spark, fs, _bloom_path(path), payload)
        return payload
    finally:
        _release_table_lock(fs, jvm_path, path)


def apply_bloom_deltas(
    spark: SparkSession,
    path: str,
    add: list[tuple[str, int]],
    delete: list[str],
) -> bool:
    """Fold a commit's file delta into the bloom sidecar: drop dead
    rels, build fresh blooms for the added files (O(touched) scan —
    the bytes are page-cache-warm from the commit that just wrote
    them). No-op for tables that never opted in. Best-effort like the
    manifest's incremental stats: on any build failure the added files
    stay bloom-less, which the pruner treats as always-keep."""
    path = path.rstrip("/")
    if not has_blooms(spark, path):
        return False
    fs, _ = _fs(spark, path)
    cur = _read_json(spark, fs, _bloom_path(path))
    dead = set(delete)
    blooms = {r: b for r, b in cur["blooms"].items() if r not in dead}
    if add:
        try:
            fresh = build_file_blooms(
                spark,
                path,
                cur["cols"],
                cur["nbytes"],
                cur["k"],
                only_paths=[f"{path}/{rel}" for rel, _b in add],
            )
            empty = base64.b64encode(bytes(cur["nbytes"])).decode()
            for rel, _b in add:
                fresh.setdefault(rel, {c: empty for c in cur["cols"]})
            blooms.update(fresh)
        except Exception:
            pass  # added files stay bloom-less → always kept
    payload = dict(cur, blooms=blooms)
    _write_json(spark, fs, _bloom_path(path), payload)
    return True


def refresh_blooms_if_present(spark: SparkSession, path: str) -> bool:
    """Wholesale rebuild after an arbitrary rewrite (compaction,
    journal recovery). Lock-free — callers hold the maintenance lock
    already, mirroring manifest.refresh_if_present."""
    path = path.rstrip("/")
    if not has_blooms(spark, path):
        return False
    fs, _ = _fs(spark, path)
    cur = _read_json(spark, fs, _bloom_path(path))
    blooms = build_file_blooms(spark, path, cur["cols"], cur["nbytes"], cur["k"])
    from .manifest import read_manifest_entries

    empty = base64.b64encode(bytes(cur["nbytes"])).decode()
    try:
        for rel, _b in read_manifest_entries(spark, path)["files"]:
            blooms.setdefault(rel, {c: empty for c in cur["cols"]})
    except Exception:
        pass
    _write_json(spark, fs, _bloom_path(path), dict(cur, blooms=blooms))
    return True


def prune_files_bloom(
    spark: SparkSession, path: str, points: dict
) -> dict | None:
    """Driver-side point-lookup skipping: which live files MIGHT
    contain the requested equality points? ``points`` maps col →
    value OR list of values (an ``IN`` list: the file is kept when ANY
    listed value might be present — the disjunction's kept-superset).
    Returns {"kept": [rel...], "n_total": N, "n_skipped": M}, or None
    when the table has no bloom sidecar or none of the point columns
    is bloomed (caller falls back). Files without a bloom entry (added
    since the sidecar was last folded) are always kept — skipping is
    an optimization, never a correctness bet."""
    from .manifest import read_manifest_entries

    path = path.rstrip("/")
    if not points or not has_blooms(spark, path):
        return None
    side = read_bloom_sidecar(spark, path)
    # legacy sidecars (pre-types) fall back to a schema peek; a column
    # missing from both maps probes untyped (string semantics — the
    # pre-r10 behavior, correct for string/int columns)
    types = side.get("types")
    if types is None:
        try:
            types = {
                c: t for c, t in spark.read.parquet(path).dtypes
                if c in set(side["cols"])
            }
        except Exception:
            types = {}
    session_tz = spark.conf.get("spark.sql.session.timeZone")
    build_tz = side.get("timezone")

    def _tz_unsafe(c: str) -> bool:
        # timestamp→string rendering depends on the session timezone:
        # probing under a different tz than the build would hash a
        # shifted rendering — degrade the column to always-keep
        return (
            types.get(c, "").startswith("timestamp")
            and build_tz is not None
            and session_tz != build_tz
        )

    usable = {
        c: (v if isinstance(v, list) else [v])
        for c, v in points.items()
        if c in side["cols"] and not _tz_unsafe(c)
    }
    if not usable:
        return None
    flat = [(c, v) for c, vs in usable.items() for v in vs]
    hs = probe_hashes(
        spark,
        [v for _c, v in flat],
        types=[types.get(c) for c, _v in flat],
    )
    hashes: dict = {}
    for (c, _v), h in zip(flat, hs):
        hashes.setdefault(c, []).append(h)
    cur = read_manifest_entries(spark, path)
    blooms = side["blooms"]
    k = side["k"]
    kept = []
    for rel, _bytes in cur["files"]:
        entry = blooms.get(rel)
        if entry is None:
            kept.append(rel)  # bloom-less (fresh commit): must read
            continue
        keep = True
        for c, h_list in hashes.items():
            bits = entry.get(c)
            if bits is None:
                continue  # column unbloomed in this entry: can't cut
            if not any(bloom_might_contain(bits, h, k) for h in h_list):
                keep = False
                break
        if keep:
            kept.append(rel)
    return {
        "kept": kept,
        "n_total": len(cur["files"]),
        "n_skipped": len(cur["files"]) - len(kept),
    }
