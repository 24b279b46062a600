"""Row-level MERGE INTO for plain parquet via file-level copy-on-write.

The r5 gap: ``upsert_manifest`` (discover.py) gives chunk-partition
granularity — a changed row rewrites its whole chunk partition. The
reference's own roadmap names a transactional table format as the next
substrate (``README.md:164-187``); this operator supplies the core of
what Delta/Iceberg's MERGE does, on plain parquet, the way those
engines actually execute it:

1. find the data files that contain at least one matched key
   (semi-join on ``_metadata.file_path`` — a file-pruning pass whose
   output is metadata-sized: file paths, not rows);
2. rewrite ONLY those files: surviving rows (anti-join on the key) plus
   all update rows, written to a staging dir;
3. commit by moving the staged files in, then deleting the replaced
   files.

Untouched files are never read twice, never rewritten, and keep their
bytes/mtimes — on a 100 TB table a merge touching 0.1% of keys
rewrites ~0.1% of files (times clustering), not the table and not the
key's whole partition.

What this does NOT give is a serializable commit: plain parquet has no
manifest to flip, so between "new files added" and "old files deleted"
a concurrent reader can see matched keys twice. The window is
file-count-sized (metadata ops) and loss-free (add-then-delete: no
state ever drops rows), and the commit is JOURNALED: an atomically-
renamed ``__merge_pending.json`` records the staged moves and pending
deletes before any live file changes, so a crash anywhere mid-commit is
COMPLETED (not re-derived) by the next merge_into on the same path —
recovery finishes the journal, never re-plans, so no crash state can
duplicate survivor rows. A real multi-writer deployment should flip a
Delta/Iceberg manifest instead (SCALING.md documents the mapping);
single-WRITER pipelines — the reference's deployment model — get exact
MERGE semantics from this operator alone.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .compact import (  # noqa: F401  (re-exported API)
    ConcurrentMaintenanceError,
    _acquire_lock,
    _lock_path,
    _release_table_lock,
    release_lock,
)
from .fsio import (
    MERGE_JOURNAL,
    _clear_journal,
    _fs,
    _journaled_move_in,
    _jvm_path,
    _recover_journal,
    _rm,
)


def _key_cols(key: str | list[str]) -> list[str]:
    return [key] if isinstance(key, str) else list(key)


def _norm_key(p: str) -> str:
    """Normalized comparison key for a file path: scheme stripped and
    URL-escapes fully decoded. ``_metadata.file_path`` reports paths
    URI-encoded ON TOP of hive's on-disk escaping (a ``part=a%3Ab`` dir
    surfaces as ``a%253Ab``), so raw string comparison — or worse,
    constructing Hadoop Paths from those strings — misses the real
    files. Both representations collapse to the same fully-decoded
    form."""
    import re as _re
    from urllib.parse import unquote

    p = _re.sub(r"^[A-Za-z][A-Za-z0-9+.-]*:/+", "/", p)
    while True:
        q = unquote(p)
        if q == p:
            return p
        p = q


def _list_data_files(fs, jvm_path, path: str) -> dict:
    """{normalized key: (listing path string, hadoop Path)} for every
    data file under ``path`` — the listing's own Path objects are the
    only encoding-safe way to address the files afterwards."""
    out = {}
    root = fs.makeQualified(jvm_path(path)).toString().rstrip("/")
    it = fs.listFiles(jvm_path(path), True)
    while it.hasNext():
        st = it.next()
        jp = st.getPath()
        p = jp.toString()
        if not p.endswith(".parquet"):
            continue
        # skip metadata subtrees (_snapshots/retained, journals) the same
        # way Spark's own file discovery does: any _/. path segment
        rel = p[len(root) + 1 :] if p.startswith(root + "/") else jp.getName()
        if any(seg.startswith(("_", ".")) for seg in rel.split("/")):
            continue
        out[_norm_key(p)] = (p, jp)
    return out


def _recover_pending(spark, fs, jvm_path, path: str, tmp: str) -> None:
    """Complete a crashed commit: finish the journaled moves, retire or
    delete the journaled replaced files, then clear the journal.
    Idempotent; no-op without one."""
    journal = f"{path}/{MERGE_JOURNAL}"
    pending = _recover_journal(spark, fs, path, tmp, journal)
    if pending is None:
        return
    live = _list_data_files(fs, jvm_path, path)
    from .snapshot import referenced_rels, retire_or_delete

    refs = referenced_rels(spark, fs, jvm_path, path)
    for f in pending["delete"]:
        hit = live.get(_norm_key(f))
        if hit is not None:
            retire_or_delete(spark, fs, jvm_path, path, hit[0], hit[1], refs)
    _clear_journal(spark, fs, journal, tmp)
    # the crash may have landed between the original commit and its
    # manifest delta — recovery can't tell, so refresh wholesale
    from .bloom import refresh_blooms_if_present
    from .manifest import refresh_if_present

    refresh_if_present(spark, path)
    refresh_blooms_if_present(spark, path)


def recover(spark: SparkSession, path: str) -> bool:
    """Standalone journal recovery: complete a crashed ``merge_into``
    commit on ``path`` without running another merge. A crash mid-commit
    otherwise leaves duplicate-visible keys until the NEXT merge on the
    same path happens to run — a one-shot or failed pipeline could leave
    the table inconsistent indefinitely. Takes the maintenance lock.
    Returns True if a pending journal was found and completed."""
    path = path.rstrip("/")
    fs, _ = _fs(spark, path)
    jvm_path = _jvm_path(spark)
    _acquire_lock(spark, fs, jvm_path, path, "recover")
    try:
        had_journal = bool(fs.exists(jvm_path(f"{path}/{MERGE_JOURNAL}")))
        _recover_pending(spark, fs, jvm_path, path, f"{path}__merge_tmp")
        return had_journal
    finally:
        _release_table_lock(fs, jvm_path, path)


def merge_into(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    key: str | list[str],
    partition_by: list[str] | None = None,
    max_file_rows: int = 5_000_000,
    allow_new_columns: bool = False,
    stale_lock_s: float | None = None,
) -> dict:
    """MERGE ``updates`` into the parquet dataset at ``path`` on ``key``:
    matched rows are replaced (WHEN MATCHED UPDATE SET *), unmatched
    update rows are inserted (WHEN NOT MATCHED INSERT *). Only data
    files containing a matched key are rewritten.

    ``partition_by`` must name the target's Hive partition columns when
    it has them and be omitted when it doesn't — both mismatches raise
    up front rather than committing a broken mixed layout. The commit is
    journaled (`__merge_pending.json` written atomically before any
    file moves): a crash mid-commit is COMPLETED by the next merge_into
    on the same path (or by :func:`recover`), so no state duplicates
    rows or loses them. Update rows must be unique per key — MERGE's
    own precondition.

    Schema evolution: columns present in ``updates`` but absent from the
    target RAISE by default (a MERGE that silently discards a new column
    is a foot-gun); pass ``allow_new_columns=True`` to widen the schema
    instead — rewritten files carry the new column (null for surviving
    rows), untouched files keep the old schema, so subsequent reads of
    an evolved table need ``.option("mergeSchema", "true")`` (or a
    compact() pass to homogenize). Columns the target has but
    ``updates`` lacks always raise.

    SINGLE WRITER: a create-exclusive sibling lock file
    (``<path>__maintenance_lock``) is held across plan→journal→commit;
    a second merge/compact on the same path raises
    :class:`ConcurrentMaintenanceError` instead of double-applying.
    ``stale_lock_s`` enables takeover of a crashed holder's lock by age.
    True multi-writer concurrency needs a transactional table format
    (Delta/Iceberg — SCALING.md documents the mapping). Returns
    {files_touched, files_added, rows_matched (update keys present in
    the target), rows_inserted}.
    """
    path = path.rstrip("/")
    keys = _key_cols(key)
    fs, jpath = _fs(spark, path)
    jvm_path = _jvm_path(spark)
    tmp = f"{path}__merge_tmp"
    from .deletes import guard_no_pending_deletes

    guard_no_pending_deletes(spark, path, "merge_into")
    _acquire_lock(spark, fs, jvm_path, path, "merge_into", stale_lock_s)
    try:
        out = _merge_into_locked(
            spark, path, updates, keys, partition_by, max_file_rows,
            allow_new_columns, fs, jpath, jvm_path, tmp,
        )
    finally:
        _release_table_lock(fs, jvm_path, path)
    from .history import log_event

    log_event(spark, path, "merge_into", {"key": keys, **out})
    from .delta_log import maybe_auto_delta_sync

    maybe_auto_delta_sync(spark, path)
    return out


def _commit_staged(spark, fs, jvm_path, path, tmp, touched) -> int:
    """Journaled commit shared by merge_into/delete_from/update/insert:
    the shared file-move commit (``pipeline/fsio.py``) records (staged
    rel paths, files to drop) atomically and moves the staged files in
    (fresh-UUID names — no collisions); this caller then retires or
    deletes the replaced files (snapshot-aware, pipeline/snapshot.py),
    folds the manifest and bloom deltas, and clears the journal. A
    crash anywhere after the journal lands is COMPLETED by the next
    maintenance op on the path (:func:`_recover_pending`); before it,
    staging is simply discarded. Returns the number of files moved in."""
    root = fs.makeQualified(jvm_path(tmp)).toString().rstrip("/")
    staged_rel, staged_bytes = [], {}
    if fs.exists(jvm_path(tmp)):
        it = fs.listFiles(jvm_path(tmp), True)
        while it.hasNext():
            st = it.next()
            p = st.getPath().toString()
            name = p.rsplit("/", 1)[-1]
            if not name.endswith(".parquet") or name.startswith(("_", ".")):
                continue
            rel = p[len(root) + 1 :]
            staged_rel.append(rel)
            staged_bytes[rel] = int(st.getLen())
    journal = f"{path}/{MERGE_JOURNAL}"
    moved = _journaled_move_in(
        spark, fs, path, tmp, journal,
        {"add": staged_rel, "delete": [t[0] for t in touched]},
    )
    from .snapshot import referenced_rels, retire_or_delete

    refs = referenced_rels(spark, fs, jvm_path, path)
    for fstr, jp_old in touched:
        retire_or_delete(spark, fs, jvm_path, path, fstr, jp_old, refs)
    # list-free reads (pipeline/manifest.py): fold this commit's file
    # delta into the table manifest — O(touched), no relisting; no-op
    # for tables that never opted in. MUST run before the journal
    # clears: while the journal exists readers fall back to a listing,
    # so a crash anywhere in here leaves the stale manifest untrusted
    # (and the recovery path refreshes it wholesale).
    from .manifest import apply_deltas

    table_root = fs.makeQualified(jvm_path(path)).toString().rstrip("/")
    dropped = [
        fstr[len(table_root) + 1 :] if fstr.startswith(table_root + "/")
        else fstr.rsplit("/", 1)[-1]
        for fstr, _jp in touched
    ]
    apply_deltas(
        spark, path, [(r, staged_bytes[r]) for r in staged_rel], dropped
    )
    from .bloom import apply_bloom_deltas

    apply_bloom_deltas(
        spark, path, [(r, staged_bytes[r]) for r in staged_rel], dropped
    )
    _clear_journal(spark, fs, journal, tmp)
    return moved


def _merge_into_locked(
    spark, path, updates, keys, partition_by, max_file_rows,
    allow_new_columns, fs, jpath, jvm_path, tmp,
) -> dict:
    _recover_pending(spark, fs, jvm_path, path, tmp)

    partitioned_dirs = [
        st.getPath().getName()
        for st in fs.listStatus(jpath)
        if st.isDirectory() and "=" in st.getPath().getName()
    ]
    if partitioned_dirs and not partition_by:
        raise ValueError(
            f"merge_into: {path} is Hive-partitioned "
            f"({partitioned_dirs[0]}/...); pass partition_by=[...] so "
            "staged files keep the layout"
        )
    if partition_by and not partitioned_dirs:
        raise ValueError(
            f"merge_into: {path} has a flat layout but partition_by="
            f"{partition_by} was given — committing would mix flat and "
            "partitioned files into an unreadable tree"
        )

    target = spark.read.parquet(path)
    target_cols = target.columns
    missing = [c for c in target_cols if c not in updates.columns]
    if missing:
        raise ValueError(
            f"merge_into: updates are missing target columns {missing} — "
            "MERGE replaces whole rows, so every target column must be "
            "supplied"
        )
    extra = [c for c in updates.columns if c not in target_cols]
    if extra and not allow_new_columns:
        raise ValueError(
            f"merge_into: updates carry columns the target lacks {extra}; "
            "silently dropping them would lose data — pass "
            "allow_new_columns=True to widen the schema (readers of the "
            'evolved table then need .option("mergeSchema", "true"))'
        )
    out_cols = target_cols + extra
    upd = updates.select(*out_cols).persist()
    try:
        upd_keys = upd.select(*keys).distinct()
        n_keys = upd_keys.count()

        # Find phase: which files hold a matched key. The semi-join
        # itself can't push down, so on its own this scans the whole
        # table's key column; bracketing the scan with the updates' key
        # RANGE first (a 2-row driver-side agg) turns the find phase
        # into a footer-stats pruned scan on clustered layouts —
        # cluster_write/zorder_write tables skip every file outside
        # [min, max]. Any row outside the range can't match any update
        # key, so the filter is correctness-free; on hash-scattered
        # layouts it covers everything and costs nothing.
        find_src = target
        if len(keys) == 1:
            kmin, kmax = (
                upd_keys.agg(
                    F.min(keys[0]).alias("lo"), F.max(keys[0]).alias("hi")
                ).collect()[0]
            )
            if kmin is not None:
                find_src = target.filter(F.col(keys[0]).between(kmin, kmax))
        with_file = find_src.select(
            *keys, F.col("_metadata.file_path").alias("__file")
        )
        touched_meta = sorted(
            r["__file"]
            for r in with_file.join(upd_keys, keys, "left_semi")
            .select("__file")
            .distinct()
            .collect()
        )
        # resolve to the listing's own Path objects — _metadata strings
        # are URI-encoded on top of hive escaping and neither readable
        # nor deletable as-is on such layouts (see _norm_key)
        live = _list_data_files(fs, jvm_path, path)
        touched = []
        for m in touched_meta:
            hit = live.get(_norm_key(m))
            if hit is None:
                raise IOError(f"merge_into: listed file vanished: {m}")
            touched.append(hit)

        keys_matched = 0
        if touched:
            # rewrite = survivors of the touched files + every update
            # row. Only the touched files are re-read; the anti join's
            # left side is therefore sized by the merge, not the table.
            # basePath keeps Hive partition columns resolvable when
            # reading leaf files directly out of a partitioned tree.
            # touched files carry only the pre-evolution columns; the
            # unionByName below null-fills any new columns for survivors
            touched_rows = (
                spark.read.option("basePath", path)
                .parquet(*[t[0] for t in touched])
                .select(*target_cols)
                .persist()
            )
            # matched = update KEYS found in the target (key-based, so
            # duplicate-key targets can't drive rows_inserted negative)
            keys_matched = upd_keys.join(
                touched_rows, keys, "left_semi"
            ).count()
            # no-shuffle narrowing toward the replaced-file count (a
            # merge must not fragment the table) — but floored by the
            # update volume so an insert-heavy merge into few files
            # still writes in parallel at bounded file sizes
            n_out = max(len(touched), math.ceil(n_keys / max_file_rows))
            staged = (
                touched_rows.join(upd_keys, keys, "left_anti")
                .unionByName(upd, allowMissingColumns=True)
                .coalesce(n_out)
            )
        else:
            staged = upd

        writer = staged.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(tmp)
        if touched:
            touched_rows.unpersist()
    finally:
        upd.unpersist()

    moved = _commit_staged(spark, fs, jvm_path, path, tmp, touched)

    return {
        "files_touched": len(touched),
        "files_added": moved,
        "rows_matched": keys_matched,
        "rows_inserted": n_keys - keys_matched,
    }


def _find_phase_source(spark, path: str, predicate) -> DataFrame | None:
    """The frame the DML find phase scans. On a manifested table with
    data-skipping stats and a STRING predicate, range/equality
    conjuncts pre-cut the file set driver-side (a kept-superset cut:
    every extracted conjunct is implied by the full predicate, so a
    skipped file cannot contain a matching row) — the find scan then
    never stats or footer-reads the skipped files at all. Returns None
    when pruning proves NO file can match. Any other state falls back
    to the plain full-table frame. Callers run this AFTER journal
    recovery, so the manifest is trustworthy."""
    full = spark.read.parquet(path)
    if not isinstance(predicate, str):
        return full
    try:
        from .manifest import (
            extract_point_sets,
            extract_range_bounds,
            has_manifest,
            prune_files_combined,
        )

        if not has_manifest(spark, path):
            return full
        bounds = extract_range_bounds(predicate)
        points = extract_point_sets(predicate)
        if not bounds and not points:
            return full
        pruned = prune_files_combined(spark, path, bounds, points)
        if pruned is None or pruned["n_skipped"] == 0:
            return full
        if not pruned["kept"]:
            return None
        return spark.read.option("basePath", path).parquet(
            *[f"{path}/{rel}" for rel in pruned["kept"]]
        )
    except Exception:
        return full


def delete_from(
    spark: SparkSession,
    path: str,
    predicate,
    partition_by: list[str] | None = None,
    stale_lock_s: float | None = None,
) -> dict:
    """Row-level DELETE on a plain-parquet table via the same file-level
    copy-on-write as :func:`merge_into` — the right-to-be-forgotten
    operation a 100 TB corpus actually runs: find the data files holding
    at least one row WHERE ``predicate`` IS TRUE (a pruning pass whose
    output is file paths), rewrite ONLY those files keeping the
    survivors, commit journaled. A file whose rows all match simply
    disappears (no empty-file rewrite). Untouched files keep their
    bytes/mtimes; cost ∝ files containing deleted rows, never table
    size — and on a ``cluster_write``/``zorder_write`` layout a
    predicate on the cluster columns prunes the find phase via footer
    stats before any row is read.

    ``predicate``: a Column or SQL string; SQL DELETE semantics — rows
    where it evaluates NULL are KEPT. Shares merge_into's journal
    (crash mid-commit completed by the next op or :func:`recover`),
    single-writer lock, and snapshot retention (a deleted file still
    pinned by a snapshot retires instead of vanishing — time travel
    shows pre-deletion data until the snapshot is vacuumed; for
    regulatory erasure, ``drop_snapshot`` the pins too). Returns
    {files_touched, files_added, rows_deleted}.
    """
    path = path.rstrip("/")
    fs, jpath = _fs(spark, path)
    jvm_path = _jvm_path(spark)
    tmp = f"{path}__merge_tmp"
    from .deletes import guard_no_pending_deletes

    guard_no_pending_deletes(spark, path, "delete_from")
    _acquire_lock(spark, fs, jvm_path, path, "delete_from", stale_lock_s)
    try:
        _recover_pending(spark, fs, jvm_path, path, tmp)
        pred = F.expr(predicate) if isinstance(predicate, str) else predicate
        hit = pred.isNotNull() & pred

        partitioned_dirs = [
            st.getPath().getName()
            for st in fs.listStatus(jpath)
            if st.isDirectory() and "=" in st.getPath().getName()
        ]
        if partitioned_dirs and not partition_by:
            raise ValueError(
                f"delete_from: {path} is Hive-partitioned "
                f"({partitioned_dirs[0]}/...); pass partition_by=[...]"
            )
        if partition_by and not partitioned_dirs:
            raise ValueError(
                f"delete_from: {path} has a flat layout but partition_by="
                f"{partition_by} was given"
            )

        target = spark.read.parquet(path)
        target_cols = target.columns
        # find phase: column pruning is Catalyst's (only predicate
        # columns + _metadata are read); footer stats prune clustered
        # layouts because `hit` pushes down as a data filter — and on a
        # manifested table with stats, the file set is pre-cut
        # driver-side before Spark stats a single skipped file
        find_src = _find_phase_source(spark, path, predicate)
        if find_src is None:
            return {"files_touched": 0, "files_added": 0, "rows_deleted": 0}
        touched_meta = sorted(
            r["__file"]
            for r in find_src.filter(hit)
            .select(F.col("_metadata.file_path").alias("__file"))
            .distinct()
            .collect()
        )
        if not touched_meta:
            return {"files_touched": 0, "files_added": 0, "rows_deleted": 0}
        live = _list_data_files(fs, jvm_path, path)
        touched = []
        for m in touched_meta:
            t = live.get(_norm_key(m))
            if t is None:
                raise IOError(f"delete_from: listed file vanished: {m}")
            touched.append(t)

        touched_rows = (
            spark.read.option("basePath", path)
            .parquet(*[t[0] for t in touched])
            .select(*target_cols)
            .persist()
        )
        try:
            n_before = touched_rows.count()
            survivors = touched_rows.filter(~hit)
            n_after = survivors.count()
            if n_after > 0:
                staged = survivors.coalesce(len(touched))
                writer = staged.write.mode("overwrite")
                if partition_by:
                    writer = writer.partitionBy(*partition_by)
                writer.parquet(tmp)
            else:
                _rm(fs, jvm_path, tmp)  # pure delete: nothing staged
        finally:
            touched_rows.unpersist()

        moved = _commit_staged(spark, fs, jvm_path, path, tmp, touched)
        out = {
            "files_touched": len(touched),
            "files_added": moved,
            "rows_deleted": int(n_before - n_after),
        }
    finally:
        _release_table_lock(fs, jvm_path, path)
    from .history import log_event

    log_event(
        spark,
        path,
        "delete_from",
        {"predicate": str(predicate), **out},
    )
    from .delta_log import maybe_auto_delta_sync

    maybe_auto_delta_sync(spark, path)
    return out


def update_where(
    spark: SparkSession,
    path: str,
    predicate,
    assignments: dict,
    partition_by: list[str] | None = None,
    stale_lock_s: float | None = None,
) -> dict:
    """Row-level UPDATE on a plain-parquet table — the last member of
    the DML triad (append / :func:`merge_into` / :func:`delete_from`):
    ``UPDATE SET col = expr WHERE predicate`` via the same file-level
    copy-on-write. Files holding at least one matching row are
    rewritten with ``assignments`` applied to matching rows and
    survivors untouched; everything else keeps its bytes. The batch
    correction every corpus eventually needs ("relabel this source",
    "clamp that column") without rewriting the table.

    ``assignments``: {column name: Column or SQL expression string}.
    Only EXISTING columns may be assigned (schema evolution belongs to
    merge_into's ``allow_new_columns``); assigning a partition column
    raises — rows would need to MOVE partitions, which is a delete +
    insert, i.e. a merge. NULL-evaluating predicates leave the row
    unmodified (same kept-rows semantics as delete_from). Shares the
    journal, single-writer lock, snapshot retention, and history log.
    Returns {files_touched, files_added, rows_updated}.
    """
    path = path.rstrip("/")
    fs, jpath = _fs(spark, path)
    jvm_path = _jvm_path(spark)
    tmp = f"{path}__merge_tmp"
    from .deletes import guard_no_pending_deletes

    guard_no_pending_deletes(spark, path, "update_where")
    _acquire_lock(spark, fs, jvm_path, path, "update_where", stale_lock_s)
    try:
        _recover_pending(spark, fs, jvm_path, path, tmp)
        pred = F.expr(predicate) if isinstance(predicate, str) else predicate
        hit = pred.isNotNull() & pred

        partitioned_dirs = [
            st.getPath().getName()
            for st in fs.listStatus(jpath)
            if st.isDirectory() and "=" in st.getPath().getName()
        ]
        if partitioned_dirs and not partition_by:
            raise ValueError(
                f"update_where: {path} is Hive-partitioned "
                f"({partitioned_dirs[0]}/...); pass partition_by=[...]"
            )
        if partition_by and not partitioned_dirs:
            raise ValueError(
                f"update_where: {path} has a flat layout but partition_by="
                f"{partition_by} was given"
            )

        target = spark.read.parquet(path)
        bad = [c for c in assignments if c not in target.columns]
        if bad:
            raise ValueError(
                f"update_where: assignments to unknown columns {bad} — "
                "UPDATE cannot add columns; use merge_into("
                "allow_new_columns=True) for schema evolution"
            )
        part_assign = [c for c in assignments if c in (partition_by or [])]
        if part_assign:
            raise ValueError(
                f"update_where: assigning partition columns {part_assign} "
                "would move rows between partitions — that is a delete + "
                "insert; use merge_into"
            )
        exprs = {
            c: (F.expr(e) if isinstance(e, str) else e)
            for c, e in assignments.items()
        }
        target_cols = target.columns

        find_src = _find_phase_source(spark, path, predicate)
        if find_src is None:
            return {"files_touched": 0, "files_added": 0, "rows_updated": 0}
        touched_meta = sorted(
            r["__file"]
            for r in find_src.filter(hit)
            .select(F.col("_metadata.file_path").alias("__file"))
            .distinct()
            .collect()
        )
        if not touched_meta:
            return {"files_touched": 0, "files_added": 0, "rows_updated": 0}
        live = _list_data_files(fs, jvm_path, path)
        touched = []
        for m in touched_meta:
            t = live.get(_norm_key(m))
            if t is None:
                raise IOError(f"update_where: listed file vanished: {m}")
            touched.append(t)

        touched_rows = (
            spark.read.option("basePath", path)
            .parquet(*[t[0] for t in touched])
            .select(*target_cols)
            .persist()
        )
        try:
            n_updated = touched_rows.filter(hit).count()
            out_cols = [
                F.when(hit, exprs[c]).otherwise(F.col(c)).cast(
                    dict(touched_rows.dtypes)[c]
                ).alias(c)
                if c in exprs
                else F.col(c)
                for c in target_cols
            ]
            staged = touched_rows.select(*out_cols).coalesce(len(touched))
            writer = staged.write.mode("overwrite")
            if partition_by:
                writer = writer.partitionBy(*partition_by)
            writer.parquet(tmp)
        finally:
            touched_rows.unpersist()

        moved = _commit_staged(spark, fs, jvm_path, path, tmp, touched)
        out = {
            "files_touched": len(touched),
            "files_added": moved,
            "rows_updated": int(n_updated),
        }
    finally:
        _release_table_lock(fs, jvm_path, path)
    from .history import log_event

    log_event(
        spark,
        path,
        "update_where",
        {"predicate": str(predicate), "columns": sorted(assignments), **out},
    )
    from .delta_log import maybe_auto_delta_sync

    maybe_auto_delta_sync(spark, path)
    return out


def cluster_write(
    df: DataFrame,
    path: str,
    by: str | list[str],
    n_files: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Write ``df`` key-clustered: range-partitioned AND sorted by
    ``by``, so each output file covers a disjoint key range and its
    parquet min/max footer statistics actually prune.

    This is the layout-maintenance half of the MERGE story (and of any
    selective-read story): on a hash-scattered layout k random merge
    keys touch ~k files, while on a range-clustered layout a contiguous
    key range collapses into ~1 touched file — the plain-parquet
    equivalent of Delta/Iceberg OPTIMIZE before MERGE. Also what makes
    key-predicate scans skip row groups via min/max.

    ``repartitionByRange`` samples the key distribution, so output
    files are balanced by ROWS even under key skew (quantile cuts, not
    modular hashing).
    """
    keys = _key_cols(by)
    _guard_snapshot_overwrite(df.sparkSession, path, mode, "cluster_write")
    from .bucketed import guard_not_bucketed

    guard_not_bucketed(df.sparkSession, path, "cluster_write")
    if mode == "overwrite":
        from .deletes import guard_no_pending_deletes

        guard_no_pending_deletes(df.sparkSession, path, "cluster_write")
    manifested, bloom_cfg = _capture_meta_optins(df.sparkSession, path, mode)
    with _preserve_history(df.sparkSession, path, mode):
        if n_files:
            ranged = df.repartitionByRange(n_files, *keys)
        else:
            ranged = df.repartitionByRange(*keys)
        ranged.sortWithinPartitions(*keys).write.mode(mode).parquet(path)
    _restore_meta_optins(df.sparkSession, path, manifested, bloom_cfg)


import contextlib as _contextlib


def _capture_meta_optins(spark, path: str, mode: str):
    """Before a layout overwrite: remember which metadata layers the
    table opted into (live-file manifest, bloom sidecar config) — the
    overwrite wipes ``_manifest/`` wholesale, so the opt-ins must be
    re-established from the rewritten file set afterwards."""
    from .bloom import has_blooms, read_bloom_sidecar
    from .manifest import has_manifest

    if mode != "overwrite" or not has_manifest(spark, path):
        return False, None
    bloom_cfg = None
    if has_blooms(spark, path):
        side = read_bloom_sidecar(spark, path)
        bloom_cfg = (side["cols"], side["nbytes"], side["k"])
    return True, bloom_cfg


def _restore_meta_optins(spark, path: str, manifested: bool, bloom_cfg):
    from .bloom import write_blooms
    from .manifest import write_manifest

    if not manifested:
        return
    write_manifest(spark, path)  # the overwrite wiped _manifest
    if bloom_cfg:
        cols, nbytes, k = bloom_cfg
        write_blooms(spark, path, cols, nbytes, k)


@_contextlib.contextmanager
def _preserve_history(spark, path: str, mode: str):
    """Carry the ``_history`` audit log across a full-directory
    overwrite (cluster_write / zorder_write): merge/delete/compact all
    deliberately preserve it, so a layout rewrite must not erase the
    table's maintenance record. Stage it to a hidden sibling before the
    write and move it back after (or on failure)."""
    path = path.rstrip("/")
    if mode != "overwrite":
        yield
        return
    fs, _ = _fs(spark, path)
    jvm_path = _jvm_path(spark)
    _dir, _base = path.rsplit("/", 1)
    stage = f"{_dir}/.{_base}__history_stage"
    src = jvm_path(f"{path}/_history")
    staged = False
    if fs.exists(src):
        _rm(fs, jvm_path, stage)
        if not fs.rename(src, jvm_path(stage)):
            # a silent False here would let the overwrite destroy
            # _history — the exact loss this guard exists to prevent
            raise IOError(
                f"layout rewrite: could not stage {path}/_history aside "
                f"to {stage}"
            )
        staged = True
    try:
        yield
    finally:
        if staged:
            dst = jvm_path(f"{path}/_history")
            if not fs.exists(dst):
                fs.mkdirs(jvm_path(path))  # a failed overwrite may have
                if not fs.rename(jvm_path(stage), dst):  # removed the dir
                    raise IOError(
                        f"layout rewrite: _history is stranded at {stage} "
                        f"— move it back to {path}/_history by hand"
                    )


def _guard_snapshot_overwrite(spark, path: str, mode: str, op: str) -> None:
    """Full-rewrite writers destroy every snapshot manifest's files —
    refuse rather than silently break time travel (the documented
    boundary in pipeline/snapshot.py). Vacuum the snapshots first, or
    rewrite to a fresh path and swap."""
    if mode != "overwrite":
        return
    fs, _ = _fs(spark, path)
    jvm_path = _jvm_path(spark)
    from .snapshot import _SNAP, _manifest_paths

    if fs.exists(jvm_path(f"{path.rstrip('/')}/{_SNAP}")) and _manifest_paths(
        fs, jvm_path, path.rstrip("/")
    ):
        raise ValueError(
            f"{op}: {path} has live snapshots; a full overwrite would "
            "break their pinned reads. drop_snapshot them first, or "
            "write to a new path and swap."
        )


_Z_BITS = 8  # 256 quantile buckets per dimension


def zorder_column(df: DataFrame, by: list[str]):
    """The Morton z-value expression for ``df`` over 2+ numeric columns
    (quantile-bucketed, pure JVM — see :func:`zorder_write`). Shared by
    zorder_write and compact's in-place OPTIMIZE-with-layout path."""
    if len(by) < 2:
        raise ValueError("zorder: needs 2+ columns; use cluster layout for 1")
    from pyspark.sql import types as T

    numeric = {
        f.name for f in df.schema.fields if isinstance(f.dataType, T.NumericType)
    }
    bad = [c for c in by if c not in numeric]
    if bad:
        raise ValueError(
            f"zorder: non-numeric z-order columns {bad} — cast or "
            "dictionary-encode them first"
        )
    n_buckets = 1 << _Z_BITS
    probs = [i / n_buckets for i in range(1, n_buckets)]
    bucket_cols = []
    for c in by:
        cuts = df.stat.approxQuantile(c, probs, 0.001)
        # bucket = #cuts <= value (0..n_buckets-1), monotone in the value
        arr = F.array(*[F.lit(float(x)) for x in cuts])
        b = F.aggregate(
            arr,
            F.lit(0),
            lambda acc, cut: acc
            + F.when(F.col(c).cast("double") >= cut, 1).otherwise(0),
        )
        bucket_cols.append(F.coalesce(b, F.lit(0)))
    k = len(by)
    z = F.lit(0).cast("long")
    for bit in range(_Z_BITS):
        for ci, b in enumerate(bucket_cols):
            pos = bit * k + ci
            z = z + F.shiftleft(
                F.shiftright(b.cast("long"), bit).bitwiseAND(F.lit(1)), pos
            )
    return z


def zorder_write(
    df: DataFrame,
    path: str,
    by: list[str],
    n_files: int,
    mode: str = "overwrite",
) -> None:
    """Write ``df`` Z-ORDER clustered on 2+ numeric columns: rows are
    laid out along a Morton curve over per-column QUANTILE buckets, so
    every output file covers a small hyper-rectangle of the key space —
    parquet footer min/max prune on EVERY ``by`` column, not just the
    leading one.

    :func:`cluster_write` concentrates one column: a file covers a
    narrow ``a`` range but the FULL ``b`` range, so ``WHERE b = ?``
    scans every file. Interleaving the bucket bits (a₇b₇a₆b₆…) gives
    each of ``n_files`` z-ranges a ~√(1/n)-of-global range in BOTH
    dimensions — the plain-parquet form of Delta's ``ZORDER BY``.

    Buckets come from ``approxQuantile`` cuts (driver-side, one pass,
    ~n_buckets numbers per column), NOT equi-width — so skewed
    distributions still fill all 2^{_Z_BITS} buckets and the curve
    stays balanced. The z-value is a pure JVM expression (bucket =
    count of cuts ≤ value via a 256-term HOF aggregate; interleave =
    16 shift/mask terms); one ``repartitionByRange`` shuffle on it,
    no UDF, no global sort.
    """
    _guard_snapshot_overwrite(df.sparkSession, path, mode, "zorder_write")
    from .bucketed import guard_not_bucketed

    guard_not_bucketed(df.sparkSession, path, "zorder_write")
    if mode == "overwrite":
        from .deletes import guard_no_pending_deletes

        guard_no_pending_deletes(df.sparkSession, path, "zorder_write")
    z = zorder_column(df, by)
    manifested, bloom_cfg = _capture_meta_optins(df.sparkSession, path, mode)
    with _preserve_history(df.sparkSession, path, mode):
        (
            df.withColumn("__z", z)
            .repartitionByRange(n_files, "__z")
            .sortWithinPartitions("__z")
            .drop("__z")
            .write.mode(mode)
            .parquet(path)
        )
    _restore_meta_optins(df.sparkSession, path, manifested, bloom_cfg)


def insert_into(
    spark: SparkSession,
    path: str,
    rows: DataFrame,
    partition_by: list[str] | None = None,
    stale_lock_s: float | None = None,
) -> dict:
    """INSERT: append ``rows`` to the parquet dataset at ``path`` as
    new files through the SAME journaled commit as merge/delete/update
    — completing the DML family (a bare ``df.write.mode("append")``
    bypasses the journal, the manifest, and the history log, leaving a
    manifested table silently stale and a crashed append half-visible).

    No existing file is touched: snapshots are unaffected, and the
    commit is crash-safe — ``__merge_pending.json`` lands atomically
    before any file moves, so a crash mid-move is completed by the next
    maintenance op (or :func:`recover`) instead of leaving a torn
    append. Manifested tables get their (add, []) delta folded in
    O(touched) — per-file stats included when the table opted into
    data skipping.

    ``partition_by`` follows merge_into's rule: required when the
    target is Hive-partitioned, rejected when it's flat. Schema is
    strict by NAME SET (order-insensitive); values cast to the target's
    column types so an append can never widen or corrupt the schema.
    Returns {"files_added": N}.
    """
    path = path.rstrip("/")
    # appended files don't follow hash(key) pmod N placement, so even
    # the append-only op breaks a catalog bucket spec
    from .bucketed import guard_not_bucketed

    guard_not_bucketed(spark, path, "insert_into")
    fs, jpath = _fs(spark, path)
    jvm_path = _jvm_path(spark)
    tmp = f"{path}__merge_tmp"
    _acquire_lock(spark, fs, jvm_path, path, "insert_into", stale_lock_s)
    try:
        _recover_pending(spark, fs, jvm_path, path, tmp)
        partitioned_dirs = [
            st.getPath().getName()
            for st in fs.listStatus(jpath)
            if st.isDirectory() and "=" in st.getPath().getName()
        ]
        if partitioned_dirs and not partition_by:
            raise ValueError(
                f"insert_into: {path} is Hive-partitioned "
                f"({partitioned_dirs[0]}/...); pass partition_by=[...] "
                "so staged files keep the layout"
            )
        if partition_by and not partitioned_dirs:
            raise ValueError(
                f"insert_into: {path} has a flat layout but partition_by="
                f"{partition_by} was given — committing would mix flat "
                "and partitioned files into an unreadable tree"
            )
        target = spark.read.parquet(path)
        missing = [c for c in target.columns if c not in rows.columns]
        extra = [c for c in rows.columns if c not in target.columns]
        if missing or extra:
            raise ValueError(
                f"insert_into: schema mismatch — rows missing {missing}, "
                f"extra {extra}; INSERT appends whole rows of the "
                "target's exact schema (use merge_into with "
                "allow_new_columns=True to widen)"
            )
        cast = rows.select(
            *[
                F.col(f.name).cast(f.dataType).alias(f.name)
                for f in target.schema.fields
            ]
        )
        _rm(fs, jvm_path, tmp)
        writer = cast.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(tmp)
        moved = _commit_staged(spark, fs, jvm_path, path, tmp, [])
        from .history import log_event

        log_event(spark, path, "insert", {"files_added": moved})
        out = {"files_added": moved}
    finally:
        _release_table_lock(fs, jvm_path, path)
    # after the lock release: the sync takes its own acquisition
    from .delta_log import maybe_auto_delta_sync

    maybe_auto_delta_sync(spark, path)
    return out
