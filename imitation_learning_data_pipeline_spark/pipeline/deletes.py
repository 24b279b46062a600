"""Merge-on-read DELETE via deletion vectors: O(matched rows) deletes.

The copy-on-write ``delete_from`` (pipeline/merge.py) rewrites every
file containing a matched row — the right default for batch curation,
but the wrong cost model for high-frequency small deletes: removing
1,000 scattered doc_ids from a 100 TB table rewrites up to 1,000
full-size files (gigabytes of write amplification for kilobytes of
change). Deletion vectors flip the cost: a DELETE writes only the
(file, row_index) positions of the matched rows — bytes proportional
to ROWS MATCHED — and readers subtract them with an anti join. This is
Iceberg v2's position deletes / Delta's deletion vectors, at minimum
viable size for the repo's plain-parquet tables.

Mechanics:

- ``delete_from_mor(path, predicate)`` finds matched positions on the
  DV-aware frame (already-deleted rows can't re-match) using the same
  manifest/bloom file pre-cut as the COW find phase, then commits them
  as one parquet DV under ``_manifest/deletes/dv-<uuid>/``
  (written to a sibling tmp dir, ATOMIC directory rename in — a crash
  leaves only the tmp, swept by the next MOR op).
- ``delete_keys_mor(path, col, values)`` is the EQUALITY-delete
  variant (Iceberg v2 equality deletes): record the key VALUES under
  ``dv-eq-<uuid>/`` with no scan at all — readers subtract with a
  broadcast anti join on the key column; the find scan is deferred to
  ``purge_deletes``, which resolves matching files then.
- ``read_with_deletes(path)`` is the MOR read: attach
  ``_metadata.file_path``/``row_index``, LEFT ANTI join the DV set on
  (relpath, row_index). DVs are metadata-sized (positions, not rows),
  so Spark's AQE broadcasts the anti join in the common case.
- ``purge_deletes(path)`` folds the DVs back into the data: rewrites
  ONLY the files that have deleted positions through the shared
  journaled copy-on-write commit (merge.py ``_commit_staged`` — crash
  recovery, snapshot retention, manifest/bloom deltas all apply),
  then retires the DV dir. Cost ∝ touched files — the same bill the
  COW delete would have paid, deferred to one batched maintenance op.

Composition rule (enforced, not documented-only): file-REWRITING ops
(merge_into / COW delete_from / update_where / compact / layout
rewrites / create_snapshot) raise :class:`PendingDeletesError` while
DVs are live — a rewrite re-materializes deleted rows from the old
bytes and silently resurrects them. ``purge_deletes`` first, then
maintain. ``insert_into`` is exempt (append-only: new files can't
collide with recorded positions). Plain ``spark.read.parquet`` of a
MOR table sees deleted rows by construction — same as reading an
Iceberg v2 table without applying its delete files; the manifest
read paths (``read_where`` / ``read_pruned`` / ``read_via_manifest``)
are all DV-aware.

Row-index stability: positions are valid only against the exact file
bytes they were computed from. The guard above is what makes this
sound — no live-DV file is ever rewritten in place, and DV commits
name files by manifest relpath, so a moved table root stays valid.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .fsio import _fs, _jvm_path, _rm

DV_DIR = "_manifest/deletes"


class PendingDeletesError(RuntimeError):
    """A file-rewriting op ran while deletion vectors are live."""


def _dv_root(path: str) -> str:
    return f"{path.rstrip('/')}/{DV_DIR}"


def _qual_root(spark, fs, path: str) -> str:
    return fs.makeQualified(_jvm_path(spark)(path)).toString().rstrip("/")


def has_live_deletes(spark: SparkSession, path: str) -> bool:
    fs, _ = _fs(spark, path)
    root = _jvm_path(spark)(_dv_root(path))
    if not fs.exists(root):
        return False
    for st in fs.listStatus(root):
        if st.getPath().getName().startswith("dv-"):
            return True
    return False


def guard_no_pending_deletes(spark: SparkSession, path: str, op: str) -> None:
    """Raise when ``op`` would rewrite files out from under live DVs.
    Called by every COW maintenance op — rewriting a file that has
    recorded delete positions resurrects the deleted rows (the old
    bytes still contain them) and strands positions pointing at dead
    files. Doubles as the bucketed-table guard: the same callers'
    rewrites would break a catalog bucket spec (bucketed.py)."""
    from .bucketed import guard_not_bucketed

    guard_not_bucketed(spark, path, op)
    if has_live_deletes(spark, path):
        raise PendingDeletesError(
            f"{op}: {path} has live deletion vectors ({DV_DIR}/dv-*) — "
            "run purge_deletes() first; rewriting files under live DVs "
            "would resurrect deleted rows"
        )


def _dv_dirs(spark: SparkSession, path: str, prefix: str) -> list[str]:
    fs, _ = _fs(spark, path)
    root = _jvm_path(spark)(_dv_root(path))
    if not fs.exists(root):
        return []
    return [
        st.getPath().toString()
        for st in fs.listStatus(root)
        if st.getPath().getName().startswith(prefix)
    ]


def _read_dv(spark: SparkSession, path: str) -> DataFrame | None:
    """The union of all live POSITION-delete DVs: (rel string,
    row_index long). None when the table has none."""
    dirs = [
        d
        for d in _dv_dirs(spark, path, "dv-")
        if not d.rsplit("/", 1)[-1].startswith("dv-eq-")
    ]
    if not dirs:
        return None
    return spark.read.parquet(*dirs)


def _read_eq_dvs(spark: SparkSession, path: str) -> dict[str, DataFrame]:
    """Live EQUALITY-delete DVs grouped by key column: {col: distinct
    values frame (single column named col)}. The key column's name is
    the DV parquet's single column name."""
    out: dict[str, DataFrame] = {}
    for d in _dv_dirs(spark, path, "dv-eq-"):
        df = spark.read.parquet(d)
        col = df.columns[0]
        out[col] = out[col].unionByName(df) if col in out else df
    return {c: df.distinct() for c, df in out.items()}


def deleted_row_count(spark: SparkSession, path: str) -> int:
    """Live deleted-POSITION count — a parquet COUNT(*) over the DV
    files, which Spark answers from footer metadata (no column I/O).
    Equality deletes are not counted: their matched-row count is
    unknowable without a scan (see :func:`manifest_row_count`'s
    honest-None)."""
    dv = _read_dv(spark, path)
    return 0 if dv is None else dv.count()


def has_equality_deletes(spark: SparkSession, path: str) -> bool:
    return bool(_dv_dirs(spark, path, "dv-eq-"))


def _apply_eq(spark: SparkSession, path: str, df: DataFrame) -> DataFrame:
    """Subtract live equality-delete values: one LEFT ANTI join per key
    column, no projection (``_metadata`` stays resolvable)."""
    for col, vals in _read_eq_dvs(spark, path).items():
        df = df.join(F.broadcast(vals), on=[col], how="left_anti")
    return df


def apply_deletes(spark: SparkSession, path: str, df: DataFrame) -> DataFrame:
    """Subtract live DVs (positions AND equality values) from a frame
    JUST read from ``path`` (the ``_metadata`` struct must still be
    resolvable, i.e. call this before any projection or join). No-op
    without DVs. Positions subtract FIRST — ``_metadata`` resolves only
    on a plain file-source frame, and the equality anti join would
    destroy that."""
    dv = _read_dv(spark, path)
    if dv is not None:
        fs, _ = _fs(spark, path)
        qual = _qual_root(spark, fs, path)
        out_cols = df.columns
        keyed = df.withColumn(
            "__rel", F.expr(f"substring(_metadata.file_path, {len(qual) + 2})")
        ).withColumn("__idx", F.col("_metadata.row_index"))
        kept = keyed.join(
            dv.select(
                F.col("rel").alias("__rel"), F.col("row_index").alias("__idx")
            ),
            on=["__rel", "__idx"],
            how="left_anti",
        )
        df = kept.select(*out_cols)
    return _apply_eq(spark, path, df)


def read_with_deletes(spark: SparkSession, path: str) -> DataFrame:
    """The merge-on-read table read: plain parquet scan minus live DV
    positions. Identical to ``spark.read.parquet(path)`` when no DVs
    exist (the anti join isn't even planned)."""
    path = path.rstrip("/")
    return apply_deletes(spark, path, spark.read.parquet(path))


def delete_from_mor(
    spark: SparkSession,
    path: str,
    predicate,
    stale_lock_s: float | None = None,
) -> dict:
    """Row-level DELETE that writes positions, not files: find rows
    WHERE ``predicate`` IS TRUE on the DV-aware frame (rows already
    deleted cannot re-match, keeping counts exact), record their
    (relpath, row_index) as one new DV parquet, atomic directory
    rename in. SQL DELETE semantics — NULL-evaluating rows are kept.

    Cost ∝ rows matched (positions written) + the find scan, which
    pre-cuts its file set through manifest stats/blooms exactly like
    the COW find phase. No data file is touched; snapshots see nothing
    change. Returns {rows_deleted, dv_files}.
    """
    from .compact import _acquire_lock, _lock_path, _release_table_lock
    from .merge import _find_phase_source

    from .bucketed import guard_not_bucketed

    path = path.rstrip("/")
    guard_not_bucketed(spark, path, "delete_from_mor")
    fs, _ = _fs(spark, path)
    jvm_path = _jvm_path(spark)
    tmp = f"{path}__dv_tmp"
    _acquire_lock(spark, fs, jvm_path, path, "delete_from_mor", stale_lock_s)
    try:
        _rm(fs, jvm_path, tmp)  # sweep a crashed predecessor's staging
        pred = F.expr(predicate) if isinstance(predicate, str) else predicate
        hit = pred.isNotNull() & pred
        src = _find_phase_source(spark, path, predicate)
        if src is None:
            return {"rows_deleted": 0, "dv_files": 0}
        qual = _qual_root(spark, fs, path)
        # key the rows BEFORE subtracting prior DVs (any join makes
        # _metadata unresolvable), carrying the equality-key columns so
        # rows already deleted — positionally OR by key — can't
        # re-match and re-count
        eq = _read_eq_dvs(spark, path)
        keyed = src.select(
            F.expr(
                f"substring(_metadata.file_path, {len(qual) + 2})"
            ).alias("rel"),
            F.col("_metadata.row_index").alias("row_index"),
            hit.alias("__hit"),
            *[F.col(c) for c in eq],
        )
        for col, vals in eq.items():
            keyed = keyed.join(F.broadcast(vals), on=[col], how="left_anti")
        keyed = keyed.select("rel", "row_index", "__hit")
        prior = _read_dv(spark, path)
        if prior is not None:
            keyed = keyed.join(prior, on=["rel", "row_index"], how="left_anti")
        positions = keyed.filter(F.col("__hit")).select("rel", "row_index")
        # positions per delete are metadata-sized by design — one part
        # file, not shuffle-partitions-many tiny ones (every MOR read
        # unions ALL DV dirs, so file count compounds per delete)
        positions.coalesce(1).write.mode("overwrite").parquet(tmp)
        n = spark.read.parquet(tmp).count()
        if n == 0:
            _rm(fs, jvm_path, tmp)
            return {"rows_deleted": 0, "dv_files": 0}
        fs.mkdirs(jvm_path(_dv_root(path)))
        dest = jvm_path(f"{_dv_root(path)}/dv-{uuid.uuid4().hex}")
        if not fs.rename(jvm_path(tmp), dest):
            raise IOError(f"delete_from_mor: could not commit DV to {dest}")
        out = {"rows_deleted": int(n), "dv_files": 1}
    finally:
        _release_table_lock(fs, jvm_path, path)
    from .history import log_event

    log_event(spark, path, "delete_from_mor", out)
    return out


def delete_keys_mor(
    spark: SparkSession,
    path: str,
    col: str,
    values,
    stale_lock_s: float | None = None,
) -> dict:
    """Row-level DELETE by key values with NO SCAN AT ALL (Iceberg v2
    equality deletes): record the values of ``col`` to delete as one
    parquet DV whose single column is named ``col`` (typed to the
    table's column type from its schema — a metadata read); readers
    subtract with a broadcast anti join on that column. The GDPR
    fast path: cost ∝ number of keys, independent of table size —
    ``delete_from_mor`` still scans a (bloom-pre-cut) find set to
    resolve positions; this writes kilobytes and touches nothing.

    The matched-row count is unknowable without a scan, so the return
    is {keys_recorded, dv_files} and ``manifest_row_count`` goes
    honest-None while equality DVs are live. ``purge_deletes`` resolves
    them to rewrites (and exact counts) later. NULL keys are rejected:
    SQL equality never matches NULL, so recording one would silently
    delete nothing.
    """
    from .compact import _acquire_lock, _lock_path, _release_table_lock

    from .bucketed import guard_not_bucketed

    path = path.rstrip("/")
    guard_not_bucketed(spark, path, "delete_keys_mor")
    if col in ("rel", "row_index", "__hit"):
        # reserved by delete_from_mor's position projection, which
        # carries eq-key columns through its find frame
        raise ValueError(f"delete_keys_mor: key column name {col!r} is reserved")
    if not isinstance(values, (list, tuple)):
        raise TypeError("delete_keys_mor: values must be a list/tuple")
    if any(v is None for v in values):
        raise ValueError("delete_keys_mor: NULL keys never match — refuse")
    fs, _ = _fs(spark, path)
    jvm_path = _jvm_path(spark)
    tmp = f"{path}__dv_tmp"
    _acquire_lock(spark, fs, jvm_path, path, "delete_keys_mor", stale_lock_s)
    try:
        _rm(fs, jvm_path, tmp)
        field = next(
            (f for f in spark.read.parquet(path).schema.fields if f.name == col),
            None,
        )
        if field is None:
            raise ValueError(f"delete_keys_mor: no column {col!r} in {path}")
        vals = (
            # values ride in as strings and cast to the table's own
            # column type — one row per key, driver-side by definition
            spark.createDataFrame(
                [(str(v),) for v in values], "`__raw` string"
            )
            .select(
                F.col("__raw"),
                # try_cast, not cast: ANSI mode would throw mid-job on
                # the first malformed value — we want the full list of
                # offenders in ONE clean error below
                F.col("__raw").try_cast(field.dataType).alias(col),
            )
            .distinct()
        )
        # an uncastable key ('abc' against a LONG column) becomes NULL
        # after the cast — it would never match a row yet still count
        # in keys_recorded and park a ghost DV. Raise, naming inputs.
        bad = [
            r["__raw"]
            for r in vals.filter(F.col(col).isNull()).collect()
        ]
        if bad:
            raise ValueError(
                f"delete_keys_mor: {len(bad)} value(s) do not cast to "
                f"{col}'s type {field.dataType.simpleString()} and would "
                f"never match any row: {bad[:5]!r}"
            )
        vals = vals.select(col).distinct()
        vals.coalesce(1).write.mode("overwrite").parquet(tmp)
        n = spark.read.parquet(tmp).count()
        fs.mkdirs(jvm_path(_dv_root(path)))
        dest = jvm_path(f"{_dv_root(path)}/dv-eq-{uuid.uuid4().hex}")
        if not fs.rename(jvm_path(tmp), dest):
            raise IOError(f"delete_keys_mor: could not commit DV to {dest}")
        out = {"keys_recorded": int(n), "dv_files": 1}
    finally:
        _release_table_lock(fs, jvm_path, path)
    from .history import log_event

    log_event(spark, path, "delete_keys_mor", out)
    return out


def purge_deletes(
    spark: SparkSession,
    path: str,
    partition_by: list[str] | None = None,
    stale_lock_s: float | None = None,
) -> dict:
    """Fold live DVs back into the data: rewrite ONLY the files with
    recorded positions or equality-matched rows (survivor rows kept,
    fully-deleted files simply dropped) through the shared journaled
    copy-on-write commit — so crash recovery, snapshot retention, and
    the manifest/bloom deltas all behave exactly as for a COW delete —
    then retire the DV dirs. Equality DVs pay their find scan HERE
    (one semi-join pass locating matching files — this is where the
    deferred cost of the scan-free ``delete_keys_mor`` lands). After
    this, file-rewriting maintenance is legal again. Returns
    {files_touched, files_added, rows_purged}.
    """
    from .compact import _acquire_lock, _lock_path, _release_table_lock
    from .merge import _commit_staged, _recover_pending

    from .bucketed import guard_not_bucketed

    path = path.rstrip("/")
    guard_not_bucketed(spark, path, "purge_deletes")
    fs, _ = _fs(spark, path)
    jvm_path = _jvm_path(spark)
    tmp = f"{path}__merge_tmp"
    _acquire_lock(spark, fs, jvm_path, path, "purge_deletes", stale_lock_s)
    try:
        _recover_pending(spark, fs, jvm_path, path, tmp)
        partitioned_dirs = [
            st.getPath().getName()
            for st in fs.listStatus(_jvm_path(spark)(path))
            if st.isDirectory() and "=" in st.getPath().getName()
        ]
        if partitioned_dirs and not partition_by:
            raise ValueError(
                f"purge_deletes: {path} is Hive-partitioned "
                f"({partitioned_dirs[0]}/...); pass partition_by=[...]"
            )
        if partition_by and not partitioned_dirs:
            raise ValueError(
                f"purge_deletes: {path} has a flat layout but partition_by="
                f"{partition_by} was given"
            )
        dv = _read_dv(spark, path)
        eq = _read_eq_dvs(spark, path)
        if dv is None and not eq:
            return {"files_touched": 0, "files_added": 0, "rows_purged": 0}
        qual = _qual_root(spark, fs, path)
        all_rels: set[str] = set()
        if dv is not None:
            all_rels.update(
                r["rel"] for r in dv.select("rel").distinct().collect()
            )
        if eq:
            # the equality find scan: files holding any matching row.
            # O(#files) collect — the same Delta-log-sized list the COW
            # find phase materializes.
            rel_expr = F.expr(
                f"substring(_metadata.file_path, {len(qual) + 2})"
            )
            hit = spark.read.parquet(path).select(
                rel_expr.alias("rel"), *[F.col(c) for c in eq]
            )
            for col, vals in eq.items():
                matched = hit.join(F.broadcast(vals), on=[col], how="left_semi")
                all_rels.update(
                    r["rel"]
                    for r in matched.select("rel").distinct().collect()
                )
        # positions whose file no longer exists are leftovers of a
        # crash between a prior purge's commit and its DV drop — those
        # rows are ALREADY purged (the rewrite excluded them); the
        # obsolete positions no-op against reads (dead rels never
        # match) and are simply retired below with the rest
        touched_rels = sorted(
            rel
            for rel in all_rels
            if fs.exists(jvm_path(f"{path}/{rel}"))
        )
        moved = 0
        n_purged = 0
        if touched_rels:
            touched = [
                (f"{qual}/{rel}", jvm_path(f"{path}/{rel}"))
                for rel in touched_rels
            ]
            before_df = spark.read.option("basePath", path).parquet(
                *[f"{path}/{rel}" for rel in touched_rels]
            )
            n_before = before_df.count()  # footer metadata, no column I/O
            survivors = apply_deletes(spark, path, before_df)
            _rm(fs, jvm_path, tmp)
            writer = survivors.coalesce(len(touched_rels)).write.mode(
                "overwrite"
            )
            if partition_by:
                writer = writer.partitionBy(*partition_by)
            writer.parquet(tmp)
            # exact across both DV kinds: rows in the touched files that
            # did not survive the rewrite (position- OR equality-deleted)
            n_purged = n_before - spark.read.parquet(tmp).count()
            moved = _commit_staged(spark, fs, jvm_path, path, tmp, touched)
        # DV retirement strictly AFTER the journaled commit: a crash
        # in between leaves rewritten files + DVs pointing at dead
        # rels — reads stay correct (dead rels never anti-match), the
        # maintenance guard stays closed, and the next purge_deletes
        # converges by retiring the obsolete DVs without a rewrite.
        # The reverse order would open a resurrection window (DVs
        # gone, old bytes still live).
        root = jvm_path(_dv_root(path))
        for st in fs.listStatus(root):
            if st.getPath().getName().startswith("dv-"):
                fs.delete(st.getPath(), True)
        out = {
            "files_touched": len(touched_rels),
            "files_added": moved,
            "rows_purged": int(n_purged),
        }
    finally:
        _release_table_lock(fs, jvm_path, path)
    from .history import log_event

    log_event(spark, path, "purge_deletes", out)
    return out
