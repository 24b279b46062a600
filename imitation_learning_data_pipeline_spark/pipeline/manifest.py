"""Live-file manifest: list-free reads for plain-parquet tables.

At 100 TB a table is O(100k-1M) parquet files; on an object store each
read starts with a recursive LIST that costs seconds-to-minutes and
(on S3-likes) only eventually-consistent results. Table formats solve
this by making the file SET metadata, not a directory walk — Delta's
transaction log, Iceberg's manifest lists. This module is that idea at
minimum viable size for the repo's journaled copy-on-write tables:

- ``_manifest/current.json`` holds the table's live data-file relpaths
  (+ sizes), written atomically (tmp + rename).
- Maintenance ops keep it fresh INCREMENTALLY: ``merge_into`` /
  ``delete_from`` / ``update_where`` commits apply their (add, delete)
  file deltas driver-side — O(touched files), no relisting.
  Compaction rewrites wholesale, so it refreshes wholesale.
- ``read_via_manifest`` builds the DataFrame from the manifest's
  explicit file list (``basePath`` option preserves Hive partition
  columns) — the file SET comes from one small JSON read instead of
  the recursive LIST.

Scope of the win (measured, see SCALING.md): the manifest removes the
LIST from everything that only needs the file set — consistency
verification, external consumers, vacuum/GC, the O(touched) commit
bookkeeping — and gives readers a point-in-time file set immune to
eventually-consistent or concurrently-mutating listings. Spark's OWN
scan of explicit paths still stats each file (PySpark exposes no hook
to feed a pre-built FileIndex), so ``read_via_manifest`` does not beat
a plain directory read on wall clock locally (measured ~1.0 s vs
~0.4 s resolving a 4,000-file table; explicit paths below the
parallel-discovery threshold additionally trigger a distributed
listing job). The full read-path win is exactly what Delta/Iceberg
readers deliver by consuming manifest stats natively — the deployment
mapping this module is the minimum viable local form of.

Crash window: the commit journal (``__pending_commit``) is the source
of truth. A crash after the journal lands but before the manifest
delta is applied leaves the manifest one commit behind; every journal
RECOVERY path therefore ends with a full refresh, and the reader
falls back to a listing read whenever a pending journal exists.

The manifest is OPT-IN per table: ``write_manifest`` bootstraps it;
tables without one pay zero cost (every hook is a no-op when the
manifest file is absent).

Deployment mapping: on Delta/Iceberg this whole module is subsumed by
the table format's own metadata layer (see SCALING.md).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .fsio import MERGE_JOURNAL, _fs, _jvm_path, _read_json, _write_json
from .snapshot import _live_rels

MANIFEST_DIR = "_manifest"
MANIFEST_REL = f"{MANIFEST_DIR}/current.json"


def _manifest_path(path: str) -> str:
    return f"{path.rstrip('/')}/{MANIFEST_REL}"


def has_manifest(spark: SparkSession, path: str) -> bool:
    fs, _ = _fs(spark, path)
    return bool(fs.exists(_jvm_path(spark)(_manifest_path(path))))


def read_manifest_entries(spark: SparkSession, path: str) -> dict:
    """The raw manifest payload: {"files": [[rel, bytes], ...], "op": …}."""
    fs, _ = _fs(spark, path)
    return _read_json(spark, fs, _manifest_path(path))


#: per-file stat value serialization: JSON-native passthrough for
#: int/float/str/bool; date/datetime → ISO-8601 strings, whose
#: lexicographic order equals temporal order (fixed-width fields;
#: variable-length fractional seconds still compare correctly because
#: a prefix sorts before its extensions and '.' < any digit position
#: of the next field). Unsupported kinds (decimal, binary, nested)
#: refuse at stats-collection time rather than prune wrongly.
def _ser_stat(v):
    import datetime as _dt

    if v is None or isinstance(v, (int, float, str, bool)):
        return v
    if isinstance(v, (_dt.datetime, _dt.date)):
        return v.isoformat()
    raise TypeError(
        f"manifest stats: unsupported min/max value type {type(v).__name__} "
        "(supported: numeric, string, boolean, date, timestamp)"
    )


def _collect_stats(
    spark: SparkSession,
    path: str,
    stats_cols: list[str],
    only_paths: list[str] | None = None,
) -> dict:
    """One column-pruned scan → per-file (row count, min/max per stats
    column), keyed by manifest relpath. Driver-side result is O(#files)
    rows × a few columns — the same size class as the file listing.
    ``only_paths`` restricts the scan to an explicit file list (the
    incremental-commit case: stats for just-added files cost O(touched),
    not a table scan)."""
    from pyspark.sql import functions as F

    if only_paths:
        df = spark.read.option("basePath", path).parquet(*only_paths)
    else:
        df = spark.read.parquet(path)
    missing = [c for c in stats_cols if c not in df.columns]
    if missing:
        raise ValueError(f"manifest stats: columns not in table: {missing}")
    aggs = [F.count(F.lit(1)).alias("__rows")]
    for c in stats_cols:
        aggs += [F.min(c).alias(f"__min_{c}"), F.max(c).alias(f"__max_{c}")]
    rows = (
        df.select(F.col("_metadata.file_path").alias("__fp"), *stats_cols)
        .groupBy("__fp")
        .agg(*aggs)
        .collect()
    )
    fs, _ = _fs(spark, path)
    qual = fs.makeQualified(_jvm_path(spark)(path)).toString().rstrip("/")
    stats: dict = {}
    for r in rows:
        fp = r["__fp"]
        rel = fp[len(qual) + 1 :] if fp.startswith(qual) else fp
        entry = {"rows": int(r["__rows"])}
        for c in stats_cols:
            entry[c] = [_ser_stat(r[f"__min_{c}"]), _ser_stat(r[f"__max_{c}"])]
        stats[rel] = entry
    return stats


def _refresh_unlocked(
    spark: SparkSession, path: str, stats_cols: list[str] | None = None
) -> dict:
    """Listing → manifest write, no locking: for callers already inside
    a locked maintenance op (compact's swap, journal recovery).
    ``stats_cols=None`` preserves the existing manifest's stats
    configuration (recomputing the stats over the current file set);
    pass ``[]`` to drop stats."""
    path = path.rstrip("/")
    fs, _ = _fs(spark, path)
    jvm_path = _jvm_path(spark)
    if stats_cols is None and has_manifest(spark, path):
        stats_cols = (
            _read_json(spark, fs, _manifest_path(path)).get("stats_cols")
            or []
        )
    stats_cols = list(stats_cols or [])
    files = _live_rels(spark, fs, jvm_path, path)
    payload = {"files": [list(t) for t in files], "op": "refresh"}
    if stats_cols:
        payload["stats_cols"] = stats_cols
        stats = _collect_stats(spark, path, stats_cols)
        # ZERO-ROW part files (an empty write task in a merge/upsert
        # commit) never surface in the row-wise aggregate — record them
        # explicitly so metadata row counts stay answerable and pruning
        # can skip them outright
        for rel, _b in files:
            stats.setdefault(
                rel, {"rows": 0, **{c: [None, None] for c in stats_cols}}
            )
        payload["stats"] = stats
    _write_json(spark, fs, _manifest_path(path), payload)
    return payload


def write_manifest(
    spark: SparkSession, path: str, stats_cols: list[str] | None = None
) -> dict:
    """Bootstrap or wholesale-refresh the manifest from one recursive
    listing — the LAST full LIST this table needs until compaction.

    ``stats_cols`` opts the table into DATA SKIPPING: the manifest
    additionally records per-file row counts and min/max for the named
    columns (one column-pruned scan), which :func:`read_pruned` uses to
    drop whole files driver-side — zero file I/O on the pruned-away
    set, the Delta/Iceberg-style skip this module's explicit-path read
    cannot get from Spark's own scan (SCALING.md round-9). Most
    effective on key-clustered layouts (``cluster_write`` /
    ``zorder_write``), where per-file ranges are disjoint.
    ``None`` preserves a prior stats configuration across refreshes.

    Takes the table's maintenance lock: a bootstrap racing a concurrent
    merge could otherwise list mid-commit and persist a torn file set
    with no pending journal left to distrust it."""
    from .compact import _acquire_lock, _lock_path, _release_table_lock

    path = path.rstrip("/")
    fs, _ = _fs(spark, path)
    jvm_path = _jvm_path(spark)
    _acquire_lock(spark, fs, jvm_path, path, "write_manifest")
    try:
        return _refresh_unlocked(spark, path, stats_cols)
    finally:
        _release_table_lock(fs, jvm_path, path)


def refresh_if_present(spark: SparkSession, path: str) -> bool:
    """Wholesale refresh for ops that rewrite arbitrarily (compaction,
    journal recovery). Lock-free — every caller already holds the
    maintenance lock. No-op for tables that never opted in. A stats
    configuration survives the refresh (recomputed over the new file
    set — the compacted layout is exactly when fresh per-file ranges
    pay)."""
    if not has_manifest(spark, path):
        return False
    _refresh_unlocked(spark, path)
    return True


def apply_deltas(
    spark: SparkSession,
    path: str,
    add: list[tuple[str, int]],
    delete: list[str],
) -> bool:
    """Fold a commit's file delta into the manifest driver-side:
    O(manifest) JSON rewrite, NO relisting. ``add`` = (relpath, bytes)
    of files moved in; ``delete`` = relpaths that left the live set
    (whether deleted or retired into a snapshot's retained tree).
    No-op when the table has no manifest."""
    path = path.rstrip("/")
    if not has_manifest(spark, path):
        return False
    fs, _ = _fs(spark, path)
    cur = _read_json(spark, fs, _manifest_path(path))
    dead = set(delete)
    files = [[r, b] for r, b in cur["files"] if r not in dead]
    files += [[r, int(b)] for r, b in add]
    files.sort()
    payload = {"files": files, "op": "delta"}
    if cur.get("stats_cols"):
        # carry the skipping config, the surviving files' stats, AND
        # fresh stats for the files this commit just added — an
        # O(touched) column-pruned scan (the commit wrote these bytes a
        # moment ago; they're in page cache), so the manifest stays
        # fully prunable and row-countable through incremental commits
        # instead of decaying until the next wholesale refresh.
        stats_cols = cur["stats_cols"]
        payload["stats_cols"] = stats_cols
        stats = {
            rel: st
            for rel, st in (cur.get("stats") or {}).items()
            if rel not in dead
        }
        if add:
            new_paths = [f"{path}/{rel}" for rel, _b in add]
            try:
                fresh = _collect_stats(
                    spark, path, stats_cols, only_paths=new_paths
                )
                # rels the row-wise aggregate couldn't see are
                # genuinely EMPTY part files — but only when the scan
                # succeeded; zero-filling after a failure would mark
                # live files empty and pruning would wrongly skip them
                for rel, _b in add:
                    fresh.setdefault(
                        rel,
                        {"rows": 0, **{c: [None, None] for c in stats_cols}},
                    )
                stats.update(fresh)
            except Exception:
                # a commit that evolved the schema away from a stats
                # column (or any stats failure) must not fail the
                # commit: the added files simply stay stat-less — the
                # always-read rule keeps reads correct, row counts
                # honestly return None until the next refresh
                pass
        payload["stats"] = stats
    _write_json(spark, fs, _manifest_path(path), payload)
    return True


def read_via_manifest(spark: SparkSession, path: str) -> DataFrame:
    """The list-free read: resolve the file set from the manifest and
    hand Spark the explicit paths (``basePath`` keeps Hive partition
    columns). Falls back to a plain listing read while a crashed
    commit's journal is pending — the one state where the manifest may
    trail the directory by one commit.

    NOT a performance feature on local/HDFS-class filesystems:
    measured at 4k/40k/100k files (SCALING.md round-9), the explicit-
    path read loses to the directory read at every size and diverges —
    Spark stats each explicit path individually while the directory
    read bulk-lists, and ``parallelPartitionDiscovery`` tuning doesn't
    change the ordering. Use it for correctness (pinned file sets,
    journal-aware reads); the object-store LIST win would need a JVM
    FileIndex that trusts the manifest's sizes, which PySpark exposes
    no hook for."""
    path = path.rstrip("/")
    fs, _ = _fs(spark, path)
    jvm_path = _jvm_path(spark)
    from .deletes import apply_deletes

    if fs.exists(jvm_path(f"{path}/{MERGE_JOURNAL}")):
        return apply_deletes(spark, path, spark.read.parquet(path))
    cur = read_manifest_entries(spark, path)
    if not cur["files"]:
        return spark.read.parquet(path)  # schema from the empty dir
    paths = [f"{path}/{rel}" for rel, _b in cur["files"]]
    return apply_deletes(
        spark, path, spark.read.option("basePath", path).parquet(*paths)
    )


def _norm_bound(v):
    import datetime as _dt

    return v.isoformat() if isinstance(v, (_dt.datetime, _dt.date)) else v


def prune_files(
    spark: SparkSession,
    path: str,
    col: str | None = None,
    lower=None,
    upper=None,
    bounds: dict | None = None,
) -> dict:
    """Driver-side data skipping: which manifest files can contain rows
    satisfying EVERY range in ``bounds`` ({col: (lower, upper)}, None
    bound = open side)? Pure JSON arithmetic — zero file I/O, no Spark
    job. The single-column form (``col``, ``lower``, ``upper``) is
    sugar for a one-entry ``bounds``. Returns {"kept": [rel...],
    "n_total": N, "n_skipped": M}. Files without a stats entry (added
    since the last refresh) are always kept — skipping is only ever an
    optimization, never a correctness bet. Raises if the table lacks
    stats for any requested column (caller should fall back to a plain
    read)."""
    path = path.rstrip("/")
    if bounds is None:
        if col is None:
            raise ValueError("prune_files: pass col or bounds")
        bounds = {col: (lower, upper)}
    cur = read_manifest_entries(spark, path)
    have = set(cur.get("stats_cols") or [])
    missing = [c for c in bounds if c not in have]
    if missing:
        raise ValueError(
            f"manifest stats: no per-file stats for {missing} at {path} — "
            f"bootstrap with write_manifest(stats_cols=[...])"
        )
    norm = {
        c: (_norm_bound(lo), _norm_bound(hi)) for c, (lo, hi) in bounds.items()
    }
    stats = cur.get("stats") or {}
    kept = []
    for rel, _bytes in cur["files"]:
        entry = stats.get(rel)
        if entry is None:
            kept.append(rel)  # stat-less (fresh commit): must read
            continue
        if entry.get("rows") == 0:
            continue  # empty part file: nothing to read
        keep = True
        prunable = True
        for c, (lo, hi) in norm.items():
            if c not in entry:
                prunable = False
                break
            fmin, fmax = entry[c]
            if fmin is None or fmax is None:
                continue  # all-null column in this file: can't cut on it
            if (hi is not None and not (fmin <= hi)) or (
                lo is not None and not (fmax >= lo)
            ):
                keep = False
                break
        if not prunable or keep:
            kept.append(rel)
    return {
        "kept": kept,
        "n_total": len(cur["files"]),
        "n_skipped": len(cur["files"]) - len(kept),
    }


def read_pruned(
    spark: SparkSession,
    path: str,
    col: str | None = None,
    lower=None,
    upper=None,
    bounds: dict | None = None,
) -> DataFrame:
    """Range read with manifest data skipping: files whose per-column
    [min, max] cannot intersect every requested range are dropped
    DRIVER-SIDE before Spark ever stats them — on a key-clustered table
    a selective range touches O(selectivity) files instead of all of
    them. ``bounds`` = {col: (lower, upper)} conjunctions; the
    single-column form is sugar for one entry. The residual per-row
    filters are applied on top (file ranges overlap the bounds, they
    don't equal them), so the result is exactly the plain read filtered
    by every range.

    Falls back to a plain filtered read when the table has no manifest,
    no stats for a requested column, or a pending commit journal (the
    manifest may trail by one commit — same rule as
    :func:`read_via_manifest`)."""
    from pyspark.sql import functions as F

    path = path.rstrip("/")
    if bounds is None:
        if col is None:
            raise ValueError("read_pruned: pass col or bounds")
        bounds = {col: (lower, upper)}

    def _residual(df: DataFrame) -> DataFrame:
        for c, (lo, hi) in bounds.items():
            if lo is not None:
                df = df.filter(F.col(c) >= F.lit(lo))
            if hi is not None:
                df = df.filter(F.col(c) <= F.lit(hi))
        return df

    from .deletes import apply_deletes

    def _mor(df: DataFrame) -> DataFrame:
        return apply_deletes(spark, path, df)

    fs, _ = _fs(spark, path)
    jvm_path = _jvm_path(spark)
    if not has_manifest(spark, path) or fs.exists(
        jvm_path(f"{path}/{MERGE_JOURNAL}")
    ):
        return _residual(_mor(spark.read.parquet(path)))
    try:
        pruned = prune_files(spark, path, bounds=bounds)
    except ValueError:
        return _residual(_mor(spark.read.parquet(path)))
    if not pruned["kept"]:
        # every file skipped: an empty frame with the table's schema
        return _residual(spark.read.parquet(path)).limit(0)
    paths = [f"{path}/{rel}" for rel in pruned["kept"]]
    return _residual(
        _mor(spark.read.option("basePath", path).parquet(*paths))
    )


_CONJUNCT_RE = None  # compiled lazily in _extract_bounds


def _parse_literal(tok: str):
    """SQL literal → Python value for stats comparison, or None if the
    token isn't a recognizable literal. timestamp/date literals map to
    their ISO string — the same lexicographically-ordered form the
    stats serializer uses."""
    import re as _re

    tok = tok.strip()
    m = _re.match(r"^(?:timestamp|date)\s*'([^']*)'$", tok, _re.IGNORECASE)
    if m:
        return m.group(1).replace(" ", "T", 1) if "T" not in m.group(1) else m.group(1)
    m = _re.match(r"^'([^']*)'$", tok)
    if m:
        return m.group(1)
    m = _re.match(r"^-?\d+$", tok)
    if m:
        return int(tok)
    m = _re.match(r"^-?\d*\.\d+$", tok)
    if m:
        return float(tok)
    return None


def _split_conjuncts(where: str) -> list[str]:
    """Top-level AND conjuncts of a SQL predicate (split outside
    parens and quotes; BETWEEN's internal AND masked to ``\\x00``).

    Masking is quote-aware: quoted string literals are lexed as whole
    tokens BEFORE any BETWEEN/AND recognition, so text inside a
    literal (``name = 'between 1 and 2'``) is never rewritten. A
    BETWEEN keyword arms a per-paren-depth counter and the next AND at
    that depth is consumed as the range separator; every other
    top-level AND splits."""
    import re as _re

    # Quoted literals surface as single tokens (the first alternative
    # wins), so neither the BETWEEN counter nor the AND splitter ever
    # looks inside one. Unbalanced quotes leave a bare "'" inside a
    # plain segment — the predicate contract (callers pass valid Spark
    # SQL) makes that unreachable in practice.
    tokens = _re.split(r"('[^']*'|\(|\)|\s+[Aa][Nn][Dd]\s+)", where)
    conjuncts, buf, depth = [], "", 0
    pending = [0]  # BETWEENs awaiting their AND, one counter per depth
    for t in tokens:
        if not t:
            continue
        if t.startswith("'"):
            buf += t
        elif t == "(":
            depth += 1
            pending.append(0)
            buf += t
        elif t == ")":
            if depth > 0:
                depth -= 1
                pending.pop()
            buf += t
        elif _re.fullmatch(r"(?i)\s+and\s+", t):
            if pending[-1] > 0:
                pending[-1] -= 1
                buf += " \x00 "
            elif depth == 0:
                conjuncts.append(buf)
                buf = ""
            else:
                buf += t
        else:
            pending[-1] += len(_re.findall(r"(?i)\bbetween\b", t))
            buf += t
    conjuncts.append(buf)
    return conjuncts


_IDENT = r"`?([A-Za-z_][A-Za-z0-9_]*)`?"
_LIT = r"((?:timestamp|date)?\s*'[^']*'|-?\d+(?:\.\d+)?)"


def _split_in_list(body: str) -> list | None:
    """The literal values of an ``IN (...)`` body, or None when any
    element isn't a plain literal (subquery, expression, …). Commas
    inside quoted strings don't split."""
    parts, buf, in_q = [], "", False
    for ch in body:
        if ch == "'":
            in_q = not in_q
            buf += ch
        elif ch == "," and not in_q:
            parts.append(buf)
            buf = ""
        else:
            buf += ch
    parts.append(buf)
    vals = []
    for p in parts:
        v = _parse_literal(p)
        if v is None:
            return None
        vals.append(v)
    return vals or None


def _prefix_bounds(pattern: str):
    """(lo, hi) string range containing every LIKE match of a
    prefix-only pattern (``'abc%'`` — no other wildcard/escape), or
    None when the pattern isn't prefix-shaped. hi is the prefix with
    its last char incremented — a kept-superset inclusive bound."""
    if not pattern.endswith("%"):
        return None
    prefix = pattern[:-1]
    if not prefix or any(ch in prefix for ch in ("%", "_", "\\")):
        return None
    last = ord(prefix[-1])
    if last >= 0x10FFFF:
        return (prefix, None)
    return (prefix, prefix[:-1] + chr(last + 1))


def extract_point_sets(where: str) -> dict:
    """Equality point-sets from top-level AND conjuncts — the
    bloom-testable shapes: ``col = lit`` (one point) and ``col IN
    (lit, ...)`` (the list). Returns {col: [values]}; a column
    constrained by several such conjuncts keeps the smaller set's
    semantics by intersecting when types allow, else contributes the
    first set (still a superset → safe for keep-decisions)."""
    import re as _re

    points: dict = {}
    for c in _split_conjuncts(where):
        c = c.strip()
        m = _re.fullmatch(rf"{_IDENT}\s*=\s*{_LIT}", c)
        vals = None
        if m:
            v = _parse_literal(m.group(2))
            if v is not None:
                col, vals = m.group(1), [v]
        else:
            m = _re.fullmatch(rf"(?is){_IDENT}\s+in\s*\((.*)\)", c)
            if m:
                got = _split_in_list(m.group(2))
                if got is not None:
                    col, vals = m.group(1), got
        if vals is None:
            continue
        if col in points:
            try:
                inter = [v for v in points[col] if v in vals]
                points[col] = inter if inter else points[col]
            except TypeError:
                pass
        else:
            points[col] = vals
    return points


def extract_range_bounds(where: str) -> dict:
    """Best-effort extraction of per-column range bounds from a SQL
    predicate's top-level AND conjuncts: ``col >= lit``, ``col > lit``,
    ``col <= lit``, ``col < lit``, ``col = lit``, ``col BETWEEN a AND
    b``, ``col IN (lits)`` (folded to [min, max]), ``col LIKE
    'prefix%'`` (prefix string range). Anything else (OR subtrees,
    functions, reversed operands) contributes nothing — pruning is an
    optimization, the caller always applies the FULL predicate as the
    residual filter, so a missed conjunct can never change results.
    Returns {col: (lo, hi)} with None for open sides; strict
    comparisons prune with the inclusive superset."""
    import re as _re

    conjuncts = _split_conjuncts(where)
    ident, lit = _IDENT, _LIT
    bounds: dict = {}

    def _fold(col, lo=None, hi=None):
        cur_lo, cur_hi = bounds.get(col, (None, None))
        try:
            if lo is not None:
                cur_lo = lo if cur_lo is None else max(cur_lo, lo)
            if hi is not None:
                cur_hi = hi if cur_hi is None else min(cur_hi, hi)
        except TypeError:
            return  # mixed types across conjuncts: skip the column
        bounds[col] = (cur_lo, cur_hi)

    for c in conjuncts:
        c = c.strip()
        m = _re.fullmatch(
            rf"(?i){ident}\s+between\s+{lit}\s+\x00\s+{lit}", c
        )
        if m:
            lo, hi = _parse_literal(m.group(2)), _parse_literal(m.group(3))
            if lo is not None and hi is not None:
                _fold(m.group(1), lo=lo, hi=hi)
            continue
        m = _re.fullmatch(rf"(?is){ident}\s+in\s*\((.*)\)", c)
        if m:
            vals = _split_in_list(m.group(2))
            if vals is not None:
                try:
                    _fold(m.group(1), lo=min(vals), hi=max(vals))
                except TypeError:
                    pass  # mixed-type IN list: contributes nothing
            continue
        m = _re.fullmatch(rf"(?i){ident}\s+like\s+'([^']*)'", c)
        if m:
            pb = _prefix_bounds(m.group(2))
            if pb is not None:
                _fold(m.group(1), lo=pb[0], hi=pb[1])
            continue
        m = _re.fullmatch(rf"{ident}\s*(>=|<=|>|<|=)\s*{lit}", c)
        if not m:
            continue
        col, op, val = m.group(1), m.group(2), _parse_literal(m.group(3))
        if val is None:
            continue
        if op in (">=", ">"):
            _fold(col, lo=val)
        elif op in ("<=", "<"):
            _fold(col, hi=val)
        else:
            _fold(col, lo=val, hi=val)
    return {c: b for c, b in bounds.items() if b != (None, None)}


def prune_files_combined(
    spark: SparkSession, path: str, bounds: dict, points: dict | None = None
) -> dict | None:
    """One skipping decision from BOTH metadata layers: range min/max
    stats for every bounded column that has them, bloom membership
    (pipeline/bloom.py) for every equality point-set on a bloomed
    column — the intersection of two kept-supersets is still a
    kept-superset, so combining never wrongly skips. The two layers are
    complementary: stats bite on clustered layouts, blooms bite on
    point lookups against unclustered high-cardinality keys, where
    every file's [min, max] overlaps and stats alone keep everything.
    ``points`` maps col → value-list (``=`` and ``IN`` shapes, see
    :func:`extract_point_sets`); when omitted, degenerate lo == hi
    bounds are treated as points. Returns {"kept", "n_total",
    "n_skipped"} or None when neither layer covers any requested
    column (caller falls back)."""
    path = path.rstrip("/")
    cur = read_manifest_entries(spark, path)
    stats_usable = {
        c: b for c, b in bounds.items() if c in (cur.get("stats_cols") or [])
    }
    if points is None:
        points = {
            c: lo
            for c, (lo, hi) in bounds.items()
            if lo is not None and lo == hi
        }
    kept = None
    if stats_usable:
        kept = prune_files(spark, path, bounds=stats_usable)["kept"]
    if points:
        from .bloom import prune_files_bloom

        bloomed = prune_files_bloom(spark, path, points)
        if bloomed is not None:
            kept = (
                bloomed["kept"]
                if kept is None
                else [r for r in kept if r in set(bloomed["kept"])]
            )
    if kept is None:
        return None
    n_total = len(cur["files"])
    return {
        "kept": kept,
        "n_total": n_total,
        "n_skipped": n_total - len(kept),
    }


def read_where(spark: SparkSession, path: str, where: str) -> DataFrame:
    """Predicate read with AUTOMATIC data skipping: range/equality
    conjuncts are extracted from ``where``; range stats prune on stats
    columns and per-file blooms prune equality points on bloomed
    columns. The full predicate then applies as the residual row
    filter, so the result is exactly
    ``spark.read.parquet(path).filter(where)`` regardless of what the
    extractor understood. Falls back to the plain filtered read when
    the table has no manifest/stats/blooms, a commit journal is
    pending, or no conjunct is prunable."""
    path = path.rstrip("/")

    from .deletes import apply_deletes

    def _plain():
        return apply_deletes(spark, path, spark.read.parquet(path)).filter(
            where
        )

    try:
        bounds = extract_range_bounds(where)
        points = extract_point_sets(where)
    except Exception:
        return _plain()
    if (not bounds and not points) or not has_manifest(spark, path):
        return _plain()
    fs, _ = _fs(spark, path)
    jvm_path = _jvm_path(spark)
    if fs.exists(jvm_path(f"{path}/{MERGE_JOURNAL}")):
        return _plain()
    try:
        pruned = prune_files_combined(spark, path, bounds, points)
    except Exception:
        return _plain()
    if pruned is None:
        return _plain()
    if not pruned["kept"]:
        return _plain().limit(0)
    paths = [f"{path}/{rel}" for rel in pruned["kept"]]
    return apply_deletes(
        spark, path, spark.read.option("basePath", path).parquet(*paths)
    ).filter(where)


def manifest_row_count(spark: SparkSession, path: str) -> int | None:
    """COUNT(*) from manifest metadata alone — zero data I/O. Returns
    None when any live file lacks a row-count stat (stats never
    written, or files added since the last refresh): an honest "don't
    know" beats a silent undercount."""
    path = path.rstrip("/")
    if not has_manifest(spark, path):
        return None
    fs, _ = _fs(spark, path)
    if fs.exists(_jvm_path(spark)(f"{path}/{MERGE_JOURNAL}")):
        return None  # manifest may trail the journaled commit
    cur = read_manifest_entries(spark, path)
    stats = cur.get("stats") or {}
    total = 0
    for rel, _bytes in cur["files"]:
        entry = stats.get(rel)
        if entry is None or "rows" not in entry:
            return None
        total += int(entry["rows"])
    from .deletes import deleted_row_count, has_equality_deletes

    # merge-on-read tables: live POSITION DVs subtract from the file
    # stats (the DV count is itself parquet footer metadata — still no
    # column I/O); EQUALITY DVs make the count unknowable without a
    # scan (how many rows match the recorded keys?) — honest None
    if has_equality_deletes(spark, path):
        return None
    return total - deleted_row_count(spark, path)


def manifest_col_bounds(
    spark: SparkSession, path: str, col: str
) -> tuple | None:
    """Table-level (MIN, MAX) of a stats column from manifest metadata
    alone — zero data I/O, the Iceberg snapshot-summary fast path.
    Returns None when the table has no manifest/stats for ``col``, a
    commit journal is pending, or any live non-empty file lacks the
    stat (honest "don't know" beats a wrong bound). All-null files
    contribute nothing; an all-null table returns (None, None)."""
    path = path.rstrip("/")
    if not has_manifest(spark, path):
        return None
    fs, _ = _fs(spark, path)
    if fs.exists(_jvm_path(spark)(f"{path}/{MERGE_JOURNAL}")):
        return None
    from .deletes import has_live_deletes

    if has_live_deletes(spark, path):
        return None  # deleted rows may hold the extremes: unknowable
    cur = read_manifest_entries(spark, path)
    if col not in (cur.get("stats_cols") or []):
        return None
    stats = cur.get("stats") or {}
    lo = hi = None
    for rel, _bytes in cur["files"]:
        entry = stats.get(rel)
        if entry is None or col not in entry:
            return None  # stat-less live file: bounds unknowable
        if entry.get("rows") == 0:
            continue
        fmin, fmax = entry[col]
        if fmin is None or fmax is None:
            continue  # all-null column in this file
        lo = fmin if lo is None else min(lo, fmin)
        hi = fmax if hi is None else max(hi, fmax)
    return (lo, hi)


def vacuum_orphans(
    spark: SparkSession,
    path: str,
    older_than_s: float = 86_400.0,
    dry_run: bool = False,
    stale_lock_s: float | None = None,
) -> dict:
    """GC data files the manifest does NOT list — crash-stranded
    output from aborted jobs, or writes that bypassed the DML commit
    path. The Delta/Iceberg VACUUM shape on plain parquet: the
    manifest is the liveness reference, ``older_than_s`` protects
    in-flight writers (a file younger than the cutoff may belong to a
    commit that has not journaled yet), and snapshot-referenced files
    are never touched. Takes the maintenance lock; refuses while a
    commit journal is pending (the manifest may trail it by one
    commit). Returns {"removed": [rel...], "kept_recent": N,
    "bytes_reclaimed": B}; ``dry_run`` reports without deleting."""
    import time as _time

    from .compact import _acquire_lock, _lock_path, _release_table_lock
    from .snapshot import _live_rels, referenced_rels

    path = path.rstrip("/")
    if not has_manifest(spark, path):
        raise ValueError(
            f"vacuum_orphans: {path} has no manifest — without one there "
            "is no liveness reference to distinguish an orphan from data "
            "(write_manifest first)"
        )
    fs, _ = _fs(spark, path)
    jvm_path = _jvm_path(spark)
    if fs.exists(jvm_path(f"{path}/{MERGE_JOURNAL}")):
        raise ValueError(
            f"vacuum_orphans: {path} has a pending commit journal — "
            "recover it first (pipeline.merge.recover); the manifest may "
            "trail the journaled commit"
        )
    _acquire_lock(spark, fs, jvm_path, path, "vacuum_orphans", stale_lock_s)
    try:
        manifested = {r for r, _b in read_manifest_entries(spark, path)["files"]}
        snap_refs = referenced_rels(spark, fs, jvm_path, path)
        cutoff_ms = (_time.time() - older_than_s) * 1000.0
        removed, kept_recent, reclaimed = [], 0, 0
        for rel, nbytes in _live_rels(spark, fs, jvm_path, path):
            if rel in manifested or rel in snap_refs:
                continue
            st = fs.getFileStatus(jvm_path(f"{path}/{rel}"))
            if st.getModificationTime() > cutoff_ms:
                kept_recent += 1  # possibly a not-yet-journaled commit
                continue
            if not dry_run:
                fs.delete(jvm_path(f"{path}/{rel}"), False)
            removed.append(rel)
            reclaimed += int(nbytes)
        out = {
            "removed": sorted(removed),
            "kept_recent": kept_recent,
            "bytes_reclaimed": reclaimed,
        }
        if removed and not dry_run:
            from .history import log_event

            log_event(
                spark,
                path,
                "vacuum_orphans",
                {"n_removed": len(removed), "bytes_reclaimed": reclaimed},
            )
        return out
    finally:
        _release_table_lock(fs, jvm_path, path)


def verify_manifest(spark: SparkSession, path: str) -> dict:
    """Debug/CI helper: diff the manifest against an actual listing.
    Empty ``missing``/``extra`` = consistent."""
    path = path.rstrip("/")
    fs, _ = _fs(spark, path)
    jvm_path = _jvm_path(spark)
    listed = {r: b for r, b in _live_rels(spark, fs, jvm_path, path)}
    manifested = {r: b for r, b in read_manifest_entries(spark, path)["files"]}
    return {
        "missing": sorted(set(listed) - set(manifested)),
        "extra": sorted(set(manifested) - set(listed)),
        "n_files": len(listed),
    }
