"""Incremental materialized views: CREATE + REFRESH on plain parquet.

The reference recomputes its stats stage over the whole corpus every
run; a 100 TB deployment needs the warehouse primitive instead — a
MATERIALIZED VIEW whose refresh cost is proportional to NEW DATA, not
corpus size. This module composes two machines the repo already
trusts: the rollup store (plans/rollup.py — mergeable per-group
partials, journaled folds, replay fencing) and file-listing state
(which files of the base table have been aggregated so far).

- ``create_matview(base, mv_path, spec...)`` bootstraps: one pass over
  the CURRENT base files computes the partials, lands them as a
  plain-layout rollup store under ``mv_path``, and records the
  processed file list + spec in ``_mv_state.json`` (atomic tmp+rename).
- ``refresh_matview(mv_path)`` lists the base NOW, diffs against the
  processed list, computes partials over ONLY the new files, and
  journal-folds them in with ``batch_id = refresh_seq``. Cost ∝ new
  bytes: an append-only base that grew 0.1% refreshes for 0.1% of the
  bootstrap cost, EVERY time, forever.
- ``read_matview(mv_path)`` finalizes the store (n/sum/avg/min/max/
  var, HLL distinct estimates, histogram quantiles — whatever the
  spec declared).

Exactly-once under crashes, by composition (r10 hardening): before a
refresh folds anything it journals its intent INTO the state —
``pending = {batch_id, files}`` — so a crash between the fold and the
final state advance replays EXACTLY that file list under EXACTLY that
batch_id on retry, even if the base grew in the meantime (the r9 hole:
a grown base re-diffed under the same batch_id, the store fence
silently no-op'd the fold, and the never-folded fresh files were
marked processed). The fold itself is the rollup store's journaled
commit, fenced by its ``last_batch`` watermark: a replayed pending
fold is a no-op when the crash hit after the store commit, and a real
fold when it hit before. The fold's return is CHECKED on the fresh
path — a fence no-op where a fresh fold was expected means the store
advanced out-of-band and the refresh raises instead of silently
marking files processed. Refreshes serialize on a view-level lock
(sibling ``<mv>__mv_refresh__maintenance_lock``), distinct from the
store's own fold lock so the refresh can hold one while the fold takes
the other.

State itself commits crash-safely: versioned ``_mv_state.<seq>.json``
files, each landed by tmp-write + rename-to-a-fresh-name (never
delete-then-rename — the r9 window that could leave NO state file).
Readers resolve the highest seq; older versions are best-effort
deleted after a successful commit. The legacy single ``_mv_state.json``
reads as seq −1 for migration.

Base-mutation honesty: incremental refresh is sound only for an
APPEND-ONLY base (insert_into / new ingest files). A base file that
DISAPPEARED or CHANGED SIZE means COW DML or compaction rewrote
history under the view; the diff cannot unwind already-folded rows,
so refresh raises ``BaseMutatedError`` by default. Pass
``on_base_mutation="rebuild"`` to recompute from scratch (the honest
fallback — same cost as CREATE), mirroring how warehouse engines
invalidate views on non-append changes.

Deployment mapping: Materialize / TimescaleDB continuous aggregates /
Databricks incremental MVs; on a table format the "processed files"
state is the snapshot id the last refresh read.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .compact import _acquire_lock, _lock_path, _release_table_lock
from .fsio import (
    _fs,
    _jvm_path,
    _read_json,
    _recover_staged_swap,
    _staged_swap,
    _write_json,
)

_STATE = "_mv_state.json"  # legacy single-file form (read fallback, seq −1)
_STATE_PREFIX = "_mv_state."  # versioned: _mv_state.<seq>.json


class BaseMutatedError(RuntimeError):
    """The base table was rewritten (not appended) under a matview."""


def _list_base_files(spark: SparkSession, base: str) -> dict[str, int]:
    """{rel path: size} for every live data file under ``base`` —
    metadata-only (one listing), the same hidden-segment rules as the
    DML file discovery.

    Delta bridge (r10 verdict item 10, hardened r11): when ``base``
    carries a ``_delta_log``, the LIVE file set AND the sizes come from
    a pure-filesystem replay of the transaction log
    (pipeline/delta_log.py) — a raw listing would see tombstoned
    (pre-vacuum) files and double-fold them, per-file getFileStatus
    RPCs would turn a metadata read into 50k driver-blocking HEADs on
    object stores, and gating on the delta-spark package would make
    the bridge SILENTLY inert (raw-walk the tombstones) on deployments
    without it. Appends add files (incremental refresh folds exactly
    the log's additions); OPTIMIZE / DELETE rewrite files, which the
    size/removal diff reports as a base mutation → rebuild, same
    contract as plain parquet."""
    from .delta_log import has_delta_log, read_delta_snapshot

    fs, _ = _fs(spark, base)
    jvm_path = _jvm_path(spark)
    root = fs.makeQualified(jvm_path(base)).toString().rstrip("/")
    out = {}
    if has_delta_log(spark, base):
        snap = read_delta_snapshot(spark, base)
        absolute = sorted(
            rel
            for rel in snap["files"]
            if "://" in rel or rel.startswith("/")
        )
        if absolute:
            raise ValueError(
                f"matview: Delta base {base} carries ABSOLUTE add-action "
                f"paths (e.g. {absolute[0]}; shallow clone?) — the fold "
                "reads files relative to the base root and would build "
                "malformed paths; use a deep-cloned/self-contained base"
            )
        return {rel: info["size"] for rel, info in snap["files"].items()}
    from .merge import _list_data_files

    for p, jp in _list_data_files(fs, jvm_path, base).values():
        rel = p[len(root) + 1 :] if p.startswith(root + "/") else jp.getName()
        out[rel] = int(fs.getFileStatus(jp).getLen())
    return out


def _state_versions(fs, jvm_path, mv_path: str) -> list[tuple[int, str]]:
    """Sorted [(seq, name)] of state files under ``mv_path``; the
    legacy unversioned file participates as seq −1 so upgraded stores
    keep reading until the first versioned commit supersedes it."""
    root = jvm_path(mv_path)
    if not fs.exists(root):
        return []
    out = []
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if name == _STATE:
            out.append((-1, name))
        elif name.startswith(_STATE_PREFIX) and name.endswith(".json"):
            mid = name[len(_STATE_PREFIX) : -len(".json")]
            if mid.isdigit():
                out.append((int(mid), name))
    return sorted(out)


def _read_state(spark: SparkSession, mv_path: str) -> dict:
    fs, _ = _fs(spark, mv_path)
    jvm_path = _jvm_path(spark)
    versions = _state_versions(fs, jvm_path, mv_path)
    if not versions:
        raise FileNotFoundError(f"matview state missing under {mv_path}")
    return _read_json(spark, fs, f"{mv_path}/{versions[-1][1]}")


def _write_state(spark: SparkSession, mv_path: str, state: dict) -> None:
    """Commit state as ``_mv_state.<seq+1>.json``, a name that DOESN'T
    exist yet, through the atomic JSON write — a crash at any point
    leaves the previous version readable. Older versions are deleted
    only after the new one is durably in place; a crash mid-cleanup
    just leaves extras that max-seq resolution ignores and the next
    commit re-collects."""
    fs, _ = _fs(spark, mv_path)
    jvm_path = _jvm_path(spark)
    versions = _state_versions(fs, jvm_path, mv_path)
    seq = (versions[-1][0] + 1) if versions else 0
    _write_json(spark, fs, f"{mv_path}/{_STATE_PREFIX}{seq}.json", state)
    for _, name in versions:
        fs.delete(jvm_path(f"{mv_path}/{name}"), False)


def _refresh_lock_base(mv_path: str) -> str:
    # a DISTINCT lock from the store's own fold/maintenance lock: the
    # refresh holds this one across diff+fold+state while the inner
    # fold_rollup_into_store takes the store lock — two levels, fixed
    # acquisition order (refresh → store), no deadlock
    return f"{mv_path}__mv_refresh"


def _rebuild_tmp(mv_path: str) -> str:
    return f"{mv_path}__mv_rebuild_tmp"


def _rebuild_pending(mv_path: str) -> str:
    # SIBLING of the view dir: the whole dir is swapped
    return f"{mv_path}__mv_rebuild_pending.json"


def _recover_rebuild(spark: SparkSession, fs, mv_path: str) -> bool:
    """Finish (journal present) or discard (journal absent) a crashed
    rebuild/alter swap. Caller must hold the refresh lock (or have
    verified no writer is live) so an in-flight swap isn't 'repaired'."""
    return _recover_staged_swap(
        spark, fs, mv_path, _rebuild_tmp(mv_path), _rebuild_pending(mv_path)
    )


def _guard_no_base_dvs(spark: SparkSession, base: str, op: str) -> None:
    """Live deletion vectors on the base are invisible to the file
    diff (MOR deletes touch no files), so the view would silently
    aggregate deleted rows forever — refuse, like every other op that
    would trust stale bytes. ``purge_deletes`` first.

    The Delta arm refuses the same hazard in Delta's dialect: with
    ``delta.enableDeletionVectors`` a DELETE masks rows WITHOUT
    rewriting files, so the partials fold would keep deleted rows.
    (DELETE on a DV-less Delta table rewrites files, which the
    size/removal diff catches as a base mutation — safe.) Column
    mapping is refused too: the fold reads data files directly as
    parquet, and mapped physical column names would silently
    mis-resolve the spec's columns."""
    from .delta_log import has_delta_log, read_delta_snapshot

    if has_delta_log(spark, base):
        snap = read_delta_snapshot(spark, base)
        props = snap["configuration"]
        # LIVE DVs first: disabling delta.enableDeletionVectors does
        # NOT drop existing deletion vectors (REORG ... APPLY (PURGE)
        # does), so a property-only guard waves through exactly the
        # stale-DV base it exists to refuse — and the fold would keep
        # every DV-masked row forever, silently.
        dv_files = sorted(
            rel for rel, info in snap["files"].items() if info["dv"]
        )
        if dv_files:
            raise BaseMutatedError(
                f"{op}: Delta base {base} has LIVE deletion vectors on "
                f"{len(dv_files)} file(s) (e.g. {dv_files[0]}) — "
                "row-level deletes are invisible to the file-diff fold; "
                "REORG TABLE ... APPLY (PURGE) to materialize them "
                "before using this base under a matview"
            )
        if props.get("delta.enableDeletionVectors", "false").lower() == "true":
            raise BaseMutatedError(
                f"{op}: Delta base {base} has deletion vectors enabled — "
                "the NEXT row-level delete would be invisible to the "
                "file-diff fold; disable DVs (and purge any existing) "
                "before using this base under a matview"
            )
        if props.get("delta.columnMapping.mode", "none") != "none":
            raise BaseMutatedError(
                f"{op}: Delta base {base} uses column mapping — the fold "
                "reads data files directly as parquet and would see "
                "physical column names; use a column-mapping-free base"
            )
        return
    from .deletes import has_live_deletes

    if has_live_deletes(spark, base):
        raise BaseMutatedError(
            f"{op}: base {base} has live deletion vectors — the view "
            "would aggregate deleted rows (MOR deletes are invisible to "
            "the file diff); run purge_deletes() on the base first"
        )


def _partials(spark: SparkSession, spec: dict, df: DataFrame) -> DataFrame:
    from ..plans.rollup import rollup_partials

    qcols = (
        {k: tuple(v) for k, v in spec["quantile_cols"].items()}
        if spec.get("quantile_cols")
        else None
    )
    return rollup_partials(
        df,
        spec["group_cols"],
        spec["metrics"],
        time_col=spec.get("time_col"),
        grain=spec.get("grain", "day"),
        distinct_cols=spec.get("distinct_cols"),
        quantile_cols=qcols,
        n_bins=spec.get("n_bins", 64),
    )


def create_matview(
    spark: SparkSession,
    base: str,
    mv_path: str,
    group_cols: list[str],
    metrics: list[str],
    time_col: str | None = None,
    grain: str = "day",
    distinct_cols: list[str] | None = None,
    quantile_cols: dict[str, tuple[float, float]] | None = None,
    n_bins: int = 64,
    n_buckets: int = 64,
) -> dict:
    """Bootstrap the view: aggregate the base's CURRENT files into a
    plain-layout rollup store at ``mv_path`` and record spec + the
    processed file list. Returns {files_processed, refresh_seq}."""
    from ..plans.rollup import write_rollup_store

    base = base.rstrip("/")
    mv_path = mv_path.rstrip("/")
    _guard_no_base_dvs(spark, base, "create_matview")
    spec = {
        "base": base,
        "group_cols": list(group_cols),
        "metrics": list(metrics),
        "time_col": time_col,
        "grain": grain,
        "distinct_cols": list(distinct_cols) if distinct_cols else None,
        "quantile_cols": (
            {k: list(v) for k, v in quantile_cols.items()}
            if quantile_cols
            else None
        ),
        "n_bins": n_bins,
    }
    files = _list_base_files(spark, base)
    if not files:
        raise ValueError(f"create_matview: no data files under {base}")
    df = spark.read.option("basePath", base).parquet(
        *[f"{base}/{rel}" for rel in sorted(files)]
    )
    write_rollup_store(_partials(spark, spec, df), mv_path, n_buckets=n_buckets)
    state = {
        "spec": spec,
        "processed": files,
        "refresh_seq": 0,
        "pending": None,
    }
    _write_state(spark, mv_path, state)
    from .history import log_event

    log_event(
        spark, mv_path, "create_matview", {"files_processed": len(files)}
    )
    return {"files_processed": len(files), "refresh_seq": 0}


def refresh_matview(
    spark: SparkSession,
    mv_path: str,
    on_base_mutation: str = "error",
    stale_lock_s: float | None = None,
) -> dict:
    """Incremental refresh: fold ONLY base files that appeared since
    the last refresh. Returns {files_new, files_total, refresh_seq,
    rebuilt}. Crash-safe by the pending-intent journal (module doc):
    intent (batch_id + exact file list) commits to state BEFORE the
    fold, the fold commits, then state advances and clears the
    pending. Any crash replays the pending list verbatim — base growth
    between crash and retry cannot smuggle unfolded files past the
    store's batch fence. Serializes on the view-level refresh lock."""
    from ..plans.rollup import fold_rollup_into_store

    if on_base_mutation not in ("error", "rebuild"):
        raise ValueError("on_base_mutation must be 'error' or 'rebuild'")
    mv_path = mv_path.rstrip("/")
    fs, _ = _fs(spark, mv_path)
    jvm_path = _jvm_path(spark)
    lock_base = _refresh_lock_base(mv_path)
    _acquire_lock(
        spark, fs, jvm_path, lock_base, "refresh_matview", stale_lock_s
    )
    try:
        _recover_rebuild(spark, fs, mv_path)
        state = _read_state(spark, mv_path)
        spec = state["spec"]
        _guard_no_base_dvs(spark, spec["base"], "refresh_matview")
        current = _list_base_files(spark, spec["base"])
        processed = dict(state["processed"])
        pending = state.get("pending")
        # mutation check covers pending files too: a pending file that
        # vanished or changed size cannot be replayed faithfully
        tracked = {**processed, **(pending["files"] if pending else {})}
        mutated = [
            rel
            for rel in tracked
            if rel not in current or current[rel] != tracked[rel]
        ]
        if mutated:
            if on_base_mutation == "error":
                raise BaseMutatedError(
                    f"refresh_matview: {len(mutated)} already-aggregated "
                    f"base file(s) were rewritten or removed (e.g. "
                    f"{mutated[0]!r}) — incremental refresh cannot unwind "
                    "folded rows; pass on_base_mutation='rebuild' to "
                    "recompute from scratch"
                )
            return _rebuild_locked(spark, mv_path, state)
        base = spec["base"]
        replayed = 0
        if pending:
            pseq = int(pending["batch_id"])
            if pseq > int(state["refresh_seq"]):
                pfiles = pending["files"]
                df = spark.read.option("basePath", base).parquet(
                    *[f"{base}/{rel}" for rel in sorted(pfiles)]
                )
                # fenced (crash hit after the store commit) or a real
                # fold (crash hit before) — either way the pending
                # files are in the store when this returns
                fold_rollup_into_store(
                    spark,
                    mv_path,
                    _partials(spark, spec, df),
                    batch_id=pseq,
                    stale_lock_s=stale_lock_s,
                )
                processed.update(pfiles)
                state.update(
                    {
                        "processed": processed,
                        "refresh_seq": pseq,
                        "pending": None,
                    }
                )
                replayed = len(pfiles)
            else:
                # superseded intent (state already advanced past it)
                state["pending"] = None
            _write_state(spark, mv_path, state)
        new = sorted(rel for rel in current if rel not in processed)
        seq = int(state["refresh_seq"]) + 1
        if new:
            new_sizes = {r: current[r] for r in new}
            # journal the intent FIRST: a crash after the fold replays
            # EXACTLY this list under EXACTLY this batch_id
            state["pending"] = {"batch_id": seq, "files": new_sizes}
            _write_state(spark, mv_path, state)
            df = spark.read.option("basePath", base).parquet(
                *[f"{base}/{rel}" for rel in new]
            )
            res = fold_rollup_into_store(
                spark,
                mv_path,
                _partials(spark, spec, df),
                batch_id=seq,
                stale_lock_s=stale_lock_s,
            )
            if not res["folded"]:
                raise RuntimeError(
                    f"refresh_matview: store fence at {mv_path} is ahead "
                    f"of the view state (batch {seq} was fenced as a "
                    "replay) — something folded into the store out-of-band"
                )
            state["processed"] = {**processed, **new_sizes}
            state["refresh_seq"] = seq
            state["pending"] = None
            _write_state(spark, mv_path, state)
        out = {
            "files_new": len(new) + replayed,
            "files_total": len(current),
            "refresh_seq": int(state["refresh_seq"]),
            "rebuilt": False,
        }
    finally:
        _release_table_lock(fs, jvm_path, lock_base)
    from .history import log_event

    log_event(spark, mv_path, "refresh_matview", out)
    return out


def rebuild_matview(
    spark: SparkSession,
    mv_path: str,
    stale_lock_s: float | None = None,
) -> dict:
    """Full recompute (the base-mutation fallback): re-bootstrap from
    the base's current files, keeping the spec. Same cost as CREATE."""
    mv_path = mv_path.rstrip("/")
    fs, _ = _fs(spark, mv_path)
    jvm_path = _jvm_path(spark)
    lock_base = _refresh_lock_base(mv_path)
    _acquire_lock(
        spark, fs, jvm_path, lock_base, "rebuild_matview", stale_lock_s
    )
    try:
        _recover_rebuild(spark, fs, mv_path)
        state = _read_state(spark, mv_path)
        return _rebuild_locked(spark, mv_path, state)
    finally:
        _release_table_lock(fs, jvm_path, lock_base)


def _swap_in_new_store(
    spark: SparkSession,
    mv_path: str,
    parts: DataFrame,
    new_state: dict,
    op: str,
) -> None:
    """Write ``parts`` + ``new_state`` as a fresh staged store and commit
    it with the journaled whole-directory swap (``pipeline/fsio.py``):
    the staged directory already contains its own committed state file,
    so the live path never exists without readable state, and
    :func:`_recover_rebuild` finishes a swap that crashed after its
    journal at every entry point. Caller holds the refresh lock; this
    takes the STORE lock for the swap (guards a concurrent direct fold;
    both locks are siblings of mv_path so neither moves with the
    swap)."""
    from ..plans.rollup import _read_meta, write_rollup_store

    fs, _ = _fs(spark, mv_path)
    jvm_path = _jvm_path(spark)
    # keep the creator's bucket layout across the swap
    try:
        n_buckets = int(_read_meta(spark, mv_path).get("n_buckets", 64))
    except Exception:
        n_buckets = 64
    _acquire_lock(spark, fs, jvm_path, mv_path, op)
    try:
        tmp = _rebuild_tmp(mv_path)
        write_rollup_store(parts, tmp, n_buckets=n_buckets)
        _write_state(spark, tmp, new_state)
        _staged_swap(spark, fs, mv_path, tmp, _rebuild_pending(mv_path))
    finally:
        _release_table_lock(fs, jvm_path, mv_path)


def _rebuild_locked(spark: SparkSession, mv_path: str, state: dict) -> dict:
    """Rebuild body; caller holds the refresh lock. The staged-store
    swap discipline lives in :func:`_swap_in_new_store`."""
    spec = state["spec"]
    base = spec["base"]
    _guard_no_base_dvs(spark, base, "rebuild_matview")
    files = _list_base_files(spark, base)
    df = spark.read.option("basePath", base).parquet(
        *[f"{base}/{rel}" for rel in sorted(files)]
    )
    parts = _partials(spark, spec, df)
    seq = int(state["refresh_seq"]) + 1
    _swap_in_new_store(
        spark,
        mv_path,
        parts,
        {**state, "processed": files, "refresh_seq": seq, "pending": None},
        "rebuild_matview",
    )
    out = {
        "files_new": len(files),
        "files_total": len(files),
        "refresh_seq": seq,
        "rebuilt": True,
    }
    from .history import log_event

    log_event(spark, mv_path, "rebuild_matview", out)
    return out


def alter_matview(
    spark: SparkSession,
    mv_path: str,
    add_metrics: list[str] | None = None,
    add_distinct: list[str] | None = None,
    add_quantiles: dict[str, tuple[float, float]] | None = None,
    stale_lock_s: float | None = None,
) -> dict:
    """Grow the view's spec with new metric / distinct-sketch /
    quantile-histogram columns WITHOUT recomputing the untouched ones
    (r9 verdict item 9 — previously the only path was a full rebuild).

    The backfill scans the already-processed file list ONCE, projected
    to ``group cols + time col + the NEW columns only`` (the explicit
    ``select`` is the column pruning — old metric bytes are structurally
    unreadable by this scan), merges those delta partials to one row
    per group, and null-safe-joins them onto the store's existing
    merged partials. Untouched columns' state comes from the store —
    aggregate-sized, no base I/O — so the cost is ∝ processed bytes OF
    THE NEW COLUMNS, and subsequent :func:`refresh_matview` calls fold
    the full grown spec over new files only, exactly as before.

    Commits via the same staged whole-directory swap as rebuild (crash
    anywhere leaves either the old store+state or the new, never a
    torn mix). Per-group row counts between store and backfill are
    cross-checked; a mismatch means the base mutated under the view
    and the alter raises instead of writing skewed state.

    Returns {added, files_scanned, refresh_seq}."""
    from functools import reduce

    from pyspark.sql import functions as F

    from ..plans.rollup import merge_rollup, read_rollup, rollup_partials

    add_metrics = list(add_metrics or [])
    add_distinct = list(add_distinct or [])
    add_quantiles = dict(add_quantiles or {})
    added = add_metrics + add_distinct + list(add_quantiles)
    if not added:
        raise ValueError("alter_matview: nothing to add")
    mv_path = mv_path.rstrip("/")
    fs, _ = _fs(spark, mv_path)
    jvm_path = _jvm_path(spark)
    lock_base = _refresh_lock_base(mv_path)
    _acquire_lock(
        spark, fs, jvm_path, lock_base, "alter_matview", stale_lock_s
    )
    try:
        _recover_rebuild(spark, fs, mv_path)
        state = _read_state(spark, mv_path)
        spec = state["spec"]
        pending = state.get("pending")
        if pending and int(pending["batch_id"]) > int(state["refresh_seq"]):
            raise RuntimeError(
                "alter_matview: a crashed refresh left a pending fold — "
                "run refresh_matview() first to replay it"
            )
        # collisions are PER CATEGORY: a column may carry metric state
        # and grow quantile state later (the partial names differ by
        # suffix); re-adding within the same category is the error.
        # Group columns can never double as stat columns.
        dup = sorted(
            (set(add_metrics) & set(spec["metrics"]))
            | (set(add_distinct) & set(spec.get("distinct_cols") or []))
            | (set(add_quantiles) & set(spec.get("quantile_cols") or {}))
            | (set(added) & set(spec["group_cols"]))
        ) or [
            c
            for cat in (add_metrics, add_distinct)
            for c in cat
            if cat.count(c) > 1
        ]
        if dup:
            raise ValueError(
                f"alter_matview: column(s) already in the spec: {dup}"
            )
        base = spec["base"]
        _guard_no_base_dvs(spark, base, "alter_matview")
        processed = dict(state["processed"])
        if not processed:
            raise ValueError("alter_matview: view has no processed files")
        current = _list_base_files(spark, base)
        mutated = [
            rel
            for rel in processed
            if rel not in current or current[rel] != processed[rel]
        ]
        if mutated:
            raise BaseMutatedError(
                f"alter_matview: {len(mutated)} already-aggregated base "
                f"file(s) were rewritten or removed (e.g. {mutated[0]!r}) "
                "— backfill cannot replay them; rebuild_matview() with "
                "the new spec instead"
            )
        # group keys as stored: declared group cols + the time bucket
        keys = list(spec["group_cols"]) + (
            ["bucket_ts"] if spec.get("time_col") else []
        )
        # the new-columns-only backfill scan: the select IS the pruning
        backfill_cols = sorted(
            set(
                spec["group_cols"]
                + ([spec["time_col"]] if spec.get("time_col") else [])
                + added
            )
        )
        df = (
            spark.read.option("basePath", base)
            .parquet(*[f"{base}/{rel}" for rel in sorted(processed)])
            .select(*backfill_cols)
        )
        delta = merge_rollup(
            rollup_partials(
                df,
                spec["group_cols"],
                add_metrics,
                time_col=spec.get("time_col"),
                grain=spec.get("grain", "day"),
                distinct_cols=add_distinct or None,
                quantile_cols=add_quantiles or None,
                n_bins=spec.get("n_bins", 64),
            )
        ).alias("d")
        old = read_rollup(spark, mv_path, finalize=False).alias("o")
        cond = reduce(
            lambda a, b: a & b,
            [F.col(f"o.`{k}`").eqNullSafe(F.col(f"d.`{k}`")) for k in keys],
        )
        joined = old.join(delta, cond, "full_outer").localCheckpoint()
        # alignment audit in ONE aggregate-sized pass: same group sets,
        # same per-group row counts — else the base drifted mid-alter
        bad = joined.filter(
            F.col("o.n_rows").isNull()
            | F.col("d.n_rows").isNull()
            | (F.col("o.n_rows") != F.col("d.n_rows"))
        ).count()
        if bad:
            raise BaseMutatedError(
                f"alter_matview: {bad} group(s) disagree between the "
                "store and the backfill (row counts or membership) — the "
                "base changed under the view; rebuild_matview() instead"
            )
        new_stat_cols = [
            c for c in delta.columns if c not in keys and c != "n_rows"
        ]
        combined = joined.select(
            *[F.col(f"o.`{c}`") for c in old.columns],
            *[F.col(f"d.`{c}`") for c in new_stat_cols],
        )
        new_spec = {
            **spec,
            "metrics": list(spec["metrics"]) + add_metrics,
            "distinct_cols": (
                (list(spec.get("distinct_cols") or []) + add_distinct)
                or None
            ),
            "quantile_cols": (
                {
                    **(spec.get("quantile_cols") or {}),
                    **{k: list(v) for k, v in add_quantiles.items()},
                }
                or None
            ),
        }
        seq = int(state["refresh_seq"]) + 1
        _swap_in_new_store(
            spark,
            mv_path,
            combined,
            {**state, "spec": new_spec, "refresh_seq": seq, "pending": None},
            "alter_matview",
        )
        joined.unpersist()
        out = {
            "added": added,
            "files_scanned": len(processed),
            "refresh_seq": seq,
            "backfill_columns": backfill_cols,
        }
    finally:
        _release_table_lock(fs, jvm_path, lock_base)
    from .history import log_event

    log_event(
        spark, mv_path, "alter_matview",
        {"added": added, "files_scanned": len(processed)},
    )
    return out


def read_matview(spark: SparkSession, mv_path: str) -> DataFrame:
    """The view's current aggregate (finalized rollup read)."""
    from ..plans.rollup import read_rollup

    mv_path = mv_path.rstrip("/")
    fs, _ = _fs(spark, mv_path)
    jvm_path = _jvm_path(spark)
    # lock-free read repair: only when a rebuild's swap journal exists
    # and no writer holds either lock — i.e. the rebuild crashed after
    # its commit point. An in-flight rebuild holds both locks, so this
    # can't race a live swap.
    if (
        fs.exists(jvm_path(_rebuild_pending(mv_path)))
        and not fs.exists(jvm_path(_lock_path(mv_path)))
        and not fs.exists(jvm_path(_lock_path(_refresh_lock_base(mv_path))))
    ):
        _recover_rebuild(spark, fs, mv_path)
    return read_rollup(spark, mv_path)
