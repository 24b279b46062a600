"""Snapshot isolation (time travel) for plain-parquet tables.

A reproducible training run must pin its input data: "train on exactly
what yesterday's job saw" is unanswerable once copy-on-write MERGEs
(``pipeline/merge.py``) and compaction have replaced files. Table
formats answer this with a versioned manifest log + vacuum retention;
this module supplies the same CONTRACT on plain parquet, the way those
engines implement it:

- ``create_snapshot(path, tag)`` records the table's current data-file
  list in ``{path}/_snapshots/{tag}.json`` — a metadata-sized manifest
  (file relpaths + sizes), captured under the table's single-writer
  maintenance lock so it can never observe a mid-commit add/delete
  window.
- Maintenance ops RETIRE instead of delete: when ``merge_into`` /
  ``compact`` / ``compact_sprawling`` would remove a replaced file that
  some snapshot still references, the file is RENAMED into
  ``_snapshots/retained/<original relpath>`` (a metadata op — no data
  moves), preserving its bytes and its Hive partition-dir context.
  Unreferenced files are deleted as before, so retention cost is
  "bytes a live snapshot still pins", exactly Delta's
  ``delete retention`` semantics.
- ``read_snapshot(path, tag)`` reads the manifest's files from wherever
  each now lives (live tree or retained tree) — the snapshot is
  byte-identical to the table at capture time, forever, regardless of
  how many merges have run since.
- ``drop_snapshot(path, tag)`` is vacuum: it deletes the manifest and
  garbage-collects every retained file no remaining snapshot
  references.

Scale shape: every operation here is metadata-sized — manifests are
file LISTS, retirement is renames, and the reference check is a set
lookup over #snapshot-files entries on the driver (same size class as
merge_into's own touched-file list). Nothing rescans data.

What this does NOT cover: full-table REPLACEMENT writers
(``materialize``, ``cluster_write``/``zorder_write`` bootstrap, plain
``mode("overwrite")``) rewrite the directory wholesale and destroy
snapshots with it — pin before replace by copying, or (the real
deployment answer, SCALING.md "Deployment mapping") use a
transactional table format where replacement is itself a versioned
commit.
"""

from __future__ import annotations

import re as _re

from pyspark.sql import DataFrame, SparkSession

from .compact import _acquire_lock, _release_table_lock
from .fsio import MERGE_JOURNAL, _fs, _jvm_path, _read_json, _rm, _write_json

_SNAP = "_snapshots"
_RETAINED = f"{_SNAP}/retained"
_TAG_RE = _re.compile(r"^[A-Za-z0-9][A-Za-z0-9._-]{0,127}$")


def _qual(fs, jvm_path, path: str) -> str:
    return fs.makeQualified(jvm_path(path)).toString().rstrip("/")


def _hidden(rel: str) -> bool:
    """True when any path segment is a metadata dir/file (Spark's own
    data-discovery rule): snapshots must never capture retained files
    or journals as table data."""
    return any(seg.startswith(("_", ".")) for seg in rel.split("/"))


def _live_rels(spark, fs, jvm_path, path: str) -> list[tuple[str, int]]:
    """[(relpath, bytes)] of the table's visible data files — the same
    file set a ``spark.read.parquet(path)`` resolves."""
    root = _qual(fs, jvm_path, path)
    out = []
    it = fs.listFiles(jvm_path(path), True)
    while it.hasNext():
        st = it.next()
        p = st.getPath().toString()
        if not p.endswith(".parquet"):
            continue
        rel = p[len(root) + 1 :] if p.startswith(root + "/") else p.rsplit("/", 1)[-1]
        if _hidden(rel):
            continue
        out.append((rel, int(st.getLen())))
    return sorted(out)


def _manifest_paths(fs, jvm_path, path: str) -> list[str]:
    d = jvm_path(f"{path}/{_SNAP}")
    if not fs.exists(d):
        return []
    out = []
    for st in fs.listStatus(d):
        name = st.getPath().getName()
        if st.isFile() and name.endswith(".json"):
            out.append(f"{path}/{_SNAP}/{name}")
    return sorted(out)


def referenced_rels(spark, fs, jvm_path, path: str, prefix: str = "") -> set[str]:
    """Union of every snapshot manifest's file relpaths (optionally only
    those under ``prefix``) — the retention check maintenance ops run
    before deleting a replaced file. Driver-side, manifest-sized."""
    refs: set[str] = set()
    for mp in _manifest_paths(fs, jvm_path, path):
        m = _read_json(spark, fs, mp)
        for rel, _sz in m["files"]:
            if not prefix or rel.startswith(prefix):
                refs.add(rel)
    return refs


def create_snapshot(spark: SparkSession, path: str, tag: str) -> dict:
    """Pin the table's current contents under ``tag``. Returns the
    manifest summary. Takes the maintenance lock (a snapshot captured
    inside merge_into's add-then-delete commit window would pin
    duplicate keys)."""
    if not _TAG_RE.match(tag):
        raise ValueError(f"snapshot: invalid tag {tag!r}")
    path = path.rstrip("/")
    # live deletion vectors (pipeline/deletes.py) are NOT captured by
    # the file-list manifest — a snapshot taken now would time-travel
    # to a state with the deleted rows resurrected. Purge first.
    from .deletes import guard_no_pending_deletes

    guard_no_pending_deletes(spark, path, "create_snapshot")
    fs, _ = _fs(spark, path)
    jvm_path = _jvm_path(spark)
    _acquire_lock(spark, fs, jvm_path, path, "snapshot")
    try:
        # journal-awareness: a crashed merge/delete/update commit leaves
        # __merge_pending.json with staged files already moved in but
        # replaced files not yet retired — _live_rels would capture that
        # torn, duplicate-key file set and the snapshot would pin it
        # forever. Complete the journal first (same recovery every other
        # consumer runs), under the lock we already hold.
        from .merge import _recover_pending

        if fs.exists(jvm_path(f"{path}/{MERGE_JOURNAL}")):
            _recover_pending(spark, fs, jvm_path, path, f"{path}__merge_tmp")
        mp = f"{path}/{_SNAP}/{tag}.json"
        if fs.exists(jvm_path(mp)):
            raise ValueError(f"snapshot: tag {tag!r} already exists on {path}")
        files = _live_rels(spark, fs, jvm_path, path)
        if not files:
            raise ValueError(f"snapshot: no data files under {path}")
        import datetime as _dt

        manifest = {
            "tag": tag,
            "created_utc": _dt.datetime.now(_dt.timezone.utc).isoformat(),
            "n_files": len(files),
            "bytes": sum(sz for _r, sz in files),
            "files": files,
        }
        fs.mkdirs(jvm_path(f"{path}/{_SNAP}"))
        _write_json(spark, fs, mp, manifest)
        out = {k: manifest[k] for k in ("tag", "created_utc", "n_files", "bytes")}
    finally:
        _release_table_lock(fs, jvm_path, path)
    from .history import log_event

    log_event(spark, path, "snapshot_create", out)
    return out


def list_snapshots(spark: SparkSession, path: str) -> list[dict]:
    """Manifest summaries, oldest-first by tag name."""
    path = path.rstrip("/")
    fs, _ = _fs(spark, path)
    jvm_path = _jvm_path(spark)
    out = []
    for mp in _manifest_paths(fs, jvm_path, path):
        m = _read_json(spark, fs, mp)
        out.append(
            {k: m[k] for k in ("tag", "created_utc", "n_files", "bytes")}
        )
    return out


def read_snapshot(spark: SparkSession, path: str, tag: str) -> DataFrame:
    """The table EXACTLY as of ``create_snapshot(tag)`` — resolves each
    manifest file to its current home (live tree, or the retained tree
    a later maintenance op moved it to) and unions the two reads with
    their original Hive partition context (``basePath``)."""
    path = path.rstrip("/")
    fs, _ = _fs(spark, path)
    jvm_path = _jvm_path(spark)
    mp = f"{path}/{_SNAP}/{tag}.json"
    if not fs.exists(jvm_path(mp)):
        known = [s["tag"] for s in list_snapshots(spark, path)]
        raise FileNotFoundError(
            f"snapshot: no tag {tag!r} on {path}; have {known}"
        )
    m = _read_json(spark, fs, mp)
    live, retained, missing = [], [], []
    for rel, _sz in m["files"]:
        if fs.exists(jvm_path(f"{path}/{rel}")):
            live.append(f"{path}/{rel}")
        elif fs.exists(jvm_path(f"{path}/{_RETAINED}/{rel}")):
            retained.append(f"{path}/{_RETAINED}/{rel}")
        else:
            missing.append(rel)
    if missing:
        raise IOError(
            f"snapshot {tag!r}: {len(missing)} file(s) gone from both the "
            f"live and retained trees (first: {missing[0]}) — the table "
            "was rewritten by a non-retention-aware writer (full-table "
            "overwrite); see module docstring"
        )
    parts = []
    if live:
        parts.append(spark.read.option("basePath", path).parquet(*live))
    if retained:
        parts.append(
            spark.read.option("basePath", f"{path}/{_RETAINED}").parquet(*retained)
        )
    df = parts[0]
    for p in parts[1:]:
        df = df.unionByName(p, allowMissingColumns=True)
    return df


def drop_snapshot(spark: SparkSession, path: str, tag: str) -> dict:
    """Vacuum: remove ``tag`` and delete every retained file no other
    snapshot references. Returns {"retained_deleted": n}."""
    path = path.rstrip("/")
    fs, _ = _fs(spark, path)
    jvm_path = _jvm_path(spark)
    _acquire_lock(spark, fs, jvm_path, path, "snapshot-drop")
    try:
        mp = jvm_path(f"{path}/{_SNAP}/{tag}.json")
        if not fs.exists(mp):
            raise FileNotFoundError(f"snapshot: no tag {tag!r} on {path}")
        fs.delete(mp, False)
        refs = referenced_rels(spark, fs, jvm_path, path)
        rroot = f"{path}/{_RETAINED}"
        deleted = 0
        if fs.exists(jvm_path(rroot)):
            q = _qual(fs, jvm_path, rroot)
            it = fs.listFiles(jvm_path(rroot), True)
            drop = []
            while it.hasNext():
                st = it.next()
                p = st.getPath().toString()
                rel = p[len(q) + 1 :] if p.startswith(q + "/") else None
                if rel and rel not in refs:
                    drop.append(st.getPath())
            for jp in drop:
                if fs.delete(jp, False):
                    deleted += 1
            if not referenced_rels(spark, fs, jvm_path, path):
                _rm(fs, jvm_path, rroot)  # tree empty of references: clear it
        out = {"retained_deleted": deleted}
    finally:
        _release_table_lock(fs, jvm_path, path)
    from .history import log_event

    log_event(spark, path, "snapshot_drop", {"tag": tag, **out})
    return out


# --- maintenance integration -------------------------------------------------


def retire_or_delete(
    spark, fs, jvm_path, root: str, file_str: str, jp_file, refs: set[str]
) -> bool:
    """Called by maintenance ops in place of a bare delete: move the
    file to the retained tree when a snapshot references it, else
    delete. ``refs`` is ``referenced_rels(...)`` computed once per op.
    Returns True when the file was retained."""
    q = _qual(fs, jvm_path, root)
    from .merge import _norm_key

    norm = _norm_key(file_str)
    qn = _norm_key(q)
    rel = norm[len(qn) + 1 :] if norm.startswith(qn + "/") else None
    if rel is None or rel not in refs:
        if fs.exists(jp_file) and not fs.delete(jp_file, False):
            raise IOError(f"maintenance: could not delete replaced file {file_str}")
        return False
    dst = jvm_path(f"{root}/{_RETAINED}/{rel}")
    if fs.exists(dst):  # same rel retired twice: keep the first copy
        fs.delete(jp_file, False)
        return True
    fs.mkdirs(dst.getParent())
    if not fs.rename(jp_file, dst):
        raise IOError(f"maintenance: could not retain snapshot file {file_str}")
    return True


def preserve_from_dir(
    spark, fs, jvm_path, root: str, old_dir: str, rel_prefix: str = ""
) -> int:
    """compact()'s hook: after the directory swap, walk the staged-aside
    ``old_dir`` and move every snapshot-referenced data file into the
    retained tree (and carry the ``_snapshots`` dir itself back when the
    swap displaced it). ``rel_prefix`` maps subtree paths to table-root
    relpaths for compact_sprawling's per-partition swaps. Returns the
    number of files retained."""
    # the swap moved _snapshots (and the _history audit log, the
    # _manifest live-file index, the Delta transaction log, and the
    # auto-sync opt-in marker) aside with the rest of the root dir —
    # restore them first so the reference check sees the manifests and
    # the metadata survives compaction (compact then refreshes
    # _manifest, which is stale after any wholesale rewrite, and the
    # auto-sync hook converges _delta_log to the compacted live set;
    # r13 review: without _delta_log/_delta_autosync here, one compact
    # silently destroyed the Delta mirror AND the opt-in)
    if not rel_prefix:
        for meta_dir in (
            _SNAP, "_history", "_manifest", "_delta_log", "_delta_autosync",
        ):
            src = jvm_path(f"{old_dir}/{meta_dir}")
            if fs.exists(src):
                dst = jvm_path(f"{root}/{meta_dir}")
                if not fs.exists(dst):
                    fs.rename(src, dst)
    refs = referenced_rels(spark, fs, jvm_path, root, prefix=rel_prefix)
    if not refs:
        return 0
    q = _qual(fs, jvm_path, old_dir)
    it = fs.listFiles(jvm_path(old_dir), True)
    kept = 0
    while it.hasNext():
        st = it.next()
        p = st.getPath().toString()
        if not p.endswith(".parquet"):
            continue
        sub = p[len(q) + 1 :] if p.startswith(q + "/") else None
        if sub is None or _hidden(sub):
            continue
        rel = rel_prefix + sub
        if rel not in refs:
            continue
        dst = jvm_path(f"{root}/{_RETAINED}/{rel}")
        if fs.exists(dst):
            continue
        fs.mkdirs(dst.getParent())
        if fs.rename(st.getPath(), dst):
            kept += 1
    return kept
