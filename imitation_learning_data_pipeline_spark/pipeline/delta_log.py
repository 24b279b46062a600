"""Pure-filesystem Delta transaction-log reader (no delta-spark).

The matview bridge needs three facts about a Delta base: the LIVE data
file set (with sizes), whether any live file carries a DELETION VECTOR,
and the table configuration (DV enablement, column mapping). All three
live in the transaction log — ``_delta_log/*.json`` commits plus
parquet checkpoints — whose format is the public Delta protocol spec
(github.com/delta-io/delta/blob/master/PROTOCOL.md). Reading the log
directly means:

- the bridge works (or refuses loudly) even when the delta-spark
  package is NOT installed — previously ``is_delta_table`` silently
  returned False and the raw directory walk double-folded tombstoned
  (pre-vacuum) files;
- file sizes come from the ``add`` actions instead of one
  ``getFileStatus`` RPC per file (50k-file table = 50k driver-blocking
  HEADs on S3);
- deletion vectors are detected on the LIVE snapshot (``add`` actions
  carrying a ``deletionVector``), not just via the
  ``delta.enableDeletionVectors`` property — turning the property off
  does NOT drop existing DVs, so a property-only guard waves through
  exactly the stale-DV corpus it exists to refuse.

Replay: start from the newest parquet checkpoint named by
``_last_checkpoint`` (all parts read in one spark.read.parquet — row
order within a checkpoint is irrelevant, it is a snapshot), then apply
the JSON commits AFTER it in version order (driver-side line parse;
the post-checkpoint tail is bounded by the checkpoint interval,
default 10 commits). Unsupported layouts (v2 uuid checkpoints) raise
rather than guess.
"""

from __future__ import annotations

import json
from urllib.parse import quote, unquote

from pyspark.sql import SparkSession

from .fsio import _fs, _jvm_path, _read_bytes, _read_json, _rm, _write_json


def _log_dir(path: str) -> str:
    return f"{path.rstrip('/')}/_delta_log"


def has_delta_log(spark: SparkSession, path: str) -> bool:
    """True when ``path`` carries a Delta transaction log — a plain
    filesystem check, independent of whether delta-spark is
    installed."""
    fs, _ = _fs(spark, path)
    return bool(fs.exists(_jvm_path(spark)(_log_dir(path))))


def read_delta_snapshot(spark: SparkSession, path: str) -> dict:
    """Replay the log to the CURRENT snapshot:
    ``{"files": {rel_path: {"size": int, "dv": bool}},
    "configuration": {...}, "version": int, "metadata": {...}|None,
    "tombstones": {rel_path: deletionTimestamp_ms}}``.
    ``metadata`` is the latest metaData action seen (id, schemaString,
    partitionColumns, ... — what a schema-evolution sync must compare
    against). ``tombstones`` are the paths whose LATEST action is a
    remove (a re-add cancels) — what a spec-complete checkpoint must
    re-emit while unexpired. Paths are URI-decoded and relative to the
    table root (absolute add paths are kept verbatim)."""
    fs, _ = _fs(spark, path)
    jpath = _jvm_path(spark)
    log = _log_dir(path)
    if not fs.exists(jpath(log)):
        raise ValueError(f"delta_log: no _delta_log under {path}")

    names = sorted(
        st.getPath().getName() for st in fs.listStatus(jpath(log))
    )
    files: dict[str, dict] = {}
    config: dict = {}
    metadata: dict | None = None
    tombstones: dict[str, int] = {}
    start_version = -1

    # checkpoint: prefer _last_checkpoint, but it is a best-effort HINT
    # per the protocol (its write can fail/lag) — fall back to the
    # newest classic single-part checkpoint visible in the listing, so
    # an expired-commit prefix cannot silently vanish from the replay
    # just because the hint file is stale or absent.
    v = parts = None
    if "_last_checkpoint" in names:
        try:
            meta = _read_json(spark, fs, f"{log}/_last_checkpoint")
            v, parts = int(meta["version"]), int(meta.get("parts") or 1)
        except (ValueError, KeyError, TypeError):
            pass  # a torn hint: fall back to the listing
    if v is None:
        classic = [
            int(n.split(".")[0])
            for n in names
            if n.endswith(".checkpoint.parquet") and n.split(".")[0].isdigit()
        ]
        if classic:
            v, parts = max(classic), 1
    if v is not None:
        if parts == 1:
            cp_files = [f"{log}/{v:020d}.checkpoint.parquet"]
        else:
            cp_files = [
                f"{log}/{v:020d}.checkpoint.{i + 1:010d}.{parts:010d}.parquet"
                for i in range(parts)
            ]
        missing = [p for p in cp_files if not fs.exists(jpath(p))]
        if missing:
            raise ValueError(
                f"delta_log: _last_checkpoint names version {v} but "
                f"{missing[0]} is absent — unsupported checkpoint layout "
                "(v2/uuid checkpoints are not implemented here)"
            )
        cp = spark.read.parquet(*cp_files)
        cols = {f.name for f in cp.schema.fields}
        add_fields = (
            {f.name for f in cp.schema["add"].dataType.fields}
            if "add" in cols
            else set()
        )
        if "add" in cols:
            dv_expr = (
                "add.deletionVector IS NOT NULL"
                if "deletionVector" in add_fields
                else "false"
            )
            for r in cp.selectExpr(
                "add.path AS p", "add.size AS sz", f"{dv_expr} AS dv"
            ).where("add IS NOT NULL").collect():
                files[unquote(r["p"])] = {"size": int(r["sz"]), "dv": bool(r["dv"])}
        if "remove" in cols:
            # checkpoints carry unexpired remove tombstones (vacuum
            # safety / concurrent-reader protection); keep them so the
            # NEXT checkpoint can re-emit the still-unexpired ones.
            # deletionTimestamp is optional per the spec — absent field
            # (or null value) reads as 0
            rm_fields = {f.name for f in cp.schema["remove"].dataType.fields}
            ts_expr = (
                "remove.deletionTimestamp"
                if "deletionTimestamp" in rm_fields
                else "CAST(0 AS BIGINT)"
            )
            for r in cp.selectExpr(
                "remove.path AS p", f"{ts_expr} AS ts"
            ).where("remove IS NOT NULL").collect():
                tombstones[unquote(r["p"])] = int(r["ts"] or 0)
        if "metaData" in cols:
            for r in (
                cp.selectExpr("to_json(metaData) AS m")
                .where("metaData IS NOT NULL")
                .collect()
            ):
                if r["m"] is not None:
                    metadata = json.loads(r["m"])
                    config = dict(metadata.get("configuration") or {})
        start_version = v

    # JSON commits after the checkpoint, in version order
    commits = []
    for n in names:
        if n.endswith(".json") and n[:-5].isdigit():
            ver = int(n[:-5])
            if ver > start_version:
                commits.append((ver, n))
    last_version = start_version
    expected = start_version + 1
    sorted_commits = sorted(commits)
    if sorted_commits and sorted_commits[0][0] != expected:
        raise ValueError(
            f"delta_log: commit chain is not contiguous — replay starts "
            f"at version {expected} but the oldest surviving commit is "
            f"{sorted_commits[0][0]:020d}.json (log-retention expiry "
            f"past the last checkpoint?); refusing a silently "
            f"incomplete snapshot of {path}"
        )
    for ver, n in sorted_commits:
        if ver != expected:
            raise ValueError(
                f"delta_log: commit chain gap — expected version "
                f"{expected}, found {n}; refusing a silently incomplete "
                f"snapshot of {path}"
            )
        expected = ver + 1
        payload = _read_bytes(spark, fs, f"{log}/{n}").decode("utf-8")
        for line in payload.splitlines():
            line = line.strip()
            if not line:
                continue
            action = json.loads(line)
            if "add" in action:
                a = action["add"]
                rel = unquote(a["path"])
                files[rel] = {
                    "size": int(a["size"]),
                    "dv": a.get("deletionVector") is not None,
                }
                # re-adding a path cancels its tombstone — the file is
                # live again, so later checkpoints must not carry a
                # remove for it
                tombstones.pop(rel, None)
            elif "remove" in action:
                rel = unquote(action["remove"]["path"])
                files.pop(rel, None)
                tombstones[rel] = int(
                    action["remove"].get("deletionTimestamp") or 0
                )
            elif "metaData" in action:
                metadata = dict(action["metaData"])
                config = dict(metadata.get("configuration") or {})
        last_version = ver
    return {
        "files": files,
        "configuration": config,
        "version": last_version,
        "metadata": metadata,
        "tombstones": tombstones,
    }


# --- writer twin (r11 verdict item 6) ---------------------------------------
#
# The inverse of the replay above: emit `_delta_log/NNN.json` add/remove
# actions from the repo's OWN manifest state, so a Delta-reading engine
# (Spark+delta-spark, Trino, DuckDB delta_scan, ...) can consume
# repo-maintained parquet tables, and the replay bridge gets a
# bidirectional roundtrip that runs WITHOUT delta-spark. Only the
# actions the protocol REQUIRES for a readable table are written
# (protocol, metaData with schemaString/partitionColumns, add, remove);
# no checkpoints — the reader-side checkpoint interval is a consumer
# optimization, and every commit here is a small JSON tail.


def _partition_values(rel: str) -> dict:
    """Hive `key=value` path segments → Delta partitionValues (values
    stay URI-encoded in the path but are stored decoded, per spec)."""
    vals = {}
    for seg in rel.split("/")[:-1]:
        if "=" in seg and not seg.startswith(("_", ".")):
            k, _, v = seg.partition("=")
            vals[k] = unquote(v)
    return vals


def write_delta_commit(
    spark: SparkSession,
    path: str,
    add: list[tuple[str, int]],
    remove: list[str],
    schema_json: str | None = None,
    configuration: dict | None = None,
    table_id: str | None = None,
) -> int:
    """Append the NEXT transaction-log commit for ``path``.

    Version 0 (a log bootstrap) additionally writes the required
    ``protocol`` and ``metaData`` actions; ``schema_json`` (a Spark
    ``StructType.json()`` string) is required then — for later commits
    the existing metaData stands. The commit file lands via
    create-exclusive (the local/HDFS put-if-absent the Delta protocol
    itself relies on), under the table maintenance lock — same
    single-writer discipline as every other commit path in this repo.
    Returns the committed version.
    """
    from .compact import _acquire_lock, _release_table_lock

    path = path.rstrip("/")
    fs, _ = _fs(spark, path)
    jpath = _jvm_path(spark)
    _acquire_lock(spark, fs, jpath, path, "delta-log-commit")
    try:
        return _write_delta_commit_locked(
            spark, fs, jpath, path, add, remove, schema_json,
            configuration, table_id,
        )
    finally:
        _release_table_lock(fs, jpath, path)


def _write_delta_commit_locked(
    spark, fs, jpath, path, add, remove, schema_json, configuration, table_id,
    known_version: int | None = None,
    metadata_update: dict | None = None,
) -> int:
    """Body of :func:`write_delta_commit`; caller holds the lock (the
    sync path needs manifest-diff + commit under ONE lock acquisition —
    the lock is not reentrant). ``known_version`` skips the version
    replay when the caller just replayed the log itself (sync would
    otherwise replay the whole tail twice per call, both under the
    lock)."""
    import time
    import uuid

    log = _log_dir(path)
    if known_version is not None:
        version = known_version + 1
        if version == 0:
            fs.mkdirs(jpath(log))
    elif fs.exists(jpath(log)):
        snap = read_delta_snapshot(spark, path)
        version = snap["version"] + 1
    else:
        fs.mkdirs(jpath(log))
        version = 0
    now_ms = int(time.time() * 1000)
    lines = []
    if version == 0:
        if not schema_json:
            raise ValueError(
                "write_delta_commit: bootstrapping a log (version 0) "
                "requires schema_json (StructType.json() of the table)"
            )
        part_cols = sorted(
            {k for rel, _b in add for k in _partition_values(rel)}
        )
        lines.append(
            json.dumps(
                {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}}
            )
        )
        lines.append(
            json.dumps(
                {
                    "metaData": {
                        "id": table_id or str(uuid.uuid4()),
                        "format": {"provider": "parquet", "options": {}},
                        "schemaString": schema_json,
                        "partitionColumns": part_cols,
                        "configuration": dict(configuration or {}),
                        "createdTime": now_ms,
                    }
                }
            )
        )
    elif metadata_update is not None:
        # schema evolution: re-emit metaData (same table id — Delta
        # identity is the id, the schemaString is what evolves) so
        # external readers see columns added after the bootstrap
        lines.append(json.dumps({"metaData": metadata_update}))
    for rel in sorted(remove):
        lines.append(
            json.dumps(
                {
                    "remove": {
                        # the spec's path field is URL-encoded; readers
                        # (incl. ours) unquote — identity for plain
                        # names, round-trips literal '%'/spaces
                        "path": quote(rel, safe="/="),
                        "deletionTimestamp": now_ms,
                        "dataChange": True,
                    }
                }
            )
        )
    for rel, size in sorted(add):
        lines.append(
            json.dumps(
                {
                    "add": {
                        "path": quote(rel, safe="/="),
                        "partitionValues": _partition_values(rel),
                        "size": int(size),
                        "modificationTime": now_ms,
                        "dataChange": True,
                    }
                }
            )
        )
    payload = ("\n".join(lines) + "\n").encode("utf-8")
    dst = jpath(f"{log}/{version:020d}.json")
    # create-exclusive = the protocol's put-if-absent commit point
    stream = fs.create(dst, False)
    try:
        stream.write(bytearray(payload))
    finally:
        stream.close()
    return version


def sync_delta_log_from_manifest(spark: SparkSession, path: str) -> dict:
    """Converge ``path``'s Delta log to the repo manifest's live file
    set in ONE commit: adds for manifest files the log doesn't know,
    removes (tombstones) for logged files the manifest dropped. Call
    after any repo maintenance commit (merge/compact/insert/delete) to
    keep external Delta readers current — O(manifest) driver-side diff,
    no relisting, no data movement. Returns
    ``{"version", "n_add", "n_remove", "changed"}`` (version is the
    last committed one when nothing changed).

    The manifest read, the log replay, the diff, AND the commit all run
    under ONE maintenance-lock acquisition (r12 self-review): a diff
    computed outside the lock could race a concurrent merge/compact and
    commit a stale mirror of the live set — still self-healing at the
    next sync, but a window where external readers see ghosts is
    avoidable, so it is avoided."""
    from .compact import _acquire_lock, _release_table_lock
    from .manifest import has_manifest, read_manifest_entries

    path = path.rstrip("/")
    if not has_manifest(spark, path):
        raise ValueError(
            f"sync_delta_log_from_manifest: {path} has no _manifest — "
            "bootstrap with write_manifest() first (the manifest is the "
            "live-set source of truth this sync reads)"
        )
    fs, _ = _fs(spark, path)
    jpath = _jvm_path(spark)
    _acquire_lock(spark, fs, jpath, path, "delta-log-sync")
    try:
        manifest = read_manifest_entries(spark, path)
        live = {rel: int(b) for rel, b in manifest["files"]}
        if fs.exists(jpath(_log_dir(path))):
            snap = read_delta_snapshot(spark, path)
            logged = {rel: meta["size"] for rel, meta in snap["files"].items()}
            last_version = snap["version"]
        else:
            logged, last_version = {}, -1
        add = sorted(
            (rel, b) for rel, b in live.items()
            if rel not in logged or logged[rel] != b
        )
        remove = sorted(rel for rel in logged if rel not in live)
        if not add and not remove:
            # an unchanged file set implies an unchanged derived schema
            # (the schema comes from those same footers) — no evolution
            # check needed on the no-op path
            return {
                "version": last_version, "n_add": 0, "n_remove": 0,
                "changed": False, "schema_updated": False,
            }
        schema_json = None
        metadata_update = None
        if last_version < 0:
            if not live:
                raise ValueError(
                    "sync_delta_log_from_manifest: empty manifest and no "
                    "existing log — nothing to derive a schema from"
                )
            first = sorted(live)[0]
            # basePath makes partition-dir columns part of the schema —
            # a bare file read would write metaData whose schemaString
            # lacks the very columns partitionColumns names
            # (protocol-invalid for every partitioned table)
            schema_json = (
                spark.read.option("basePath", path)
                .parquet(f"{path}/{first}")
                .schema.json()
            )
        elif add:
            # schema evolution (ADVICE r12): a later sync after the
            # table gained columns would otherwise add the new files
            # while external Delta readers kept the stale v0
            # schemaString and silently dropped the new columns.
            # Evolution can only ENTER via newly-added files, so merge
            # footers over the ADDS only (cost bounded by the sync
            # delta, never the table) and union with the logged schema:
            # - a column present in adds but not logged is appended;
            # - a logged column absent from adds stays (older files
            #   still carry it; Delta reads missing columns as null);
            # - unless EVERY logged file is removed this sync (a full
            #   rewrite) — then the added schema replaces wholesale;
            # - a type CHANGE refuses loudly (unsupported here — it
            #   would silently corrupt external reads either way).
            from pyspark.sql.types import StructType

            added_schema = (
                spark.read.option("mergeSchema", "true")
                .option("basePath", path)
                .parquet(*(f"{path}/{rel}" for rel, _b in add))
                .schema
            )
            logged_meta = snap["metadata"] or {}
            logged_str = logged_meta.get("schemaString")
            logged_schema = (
                StructType.fromJson(json.loads(logged_str))
                if logged_str
                else None
            )
            removed = set(remove)  # list scan would be O(n^2) exactly
            # in the full-rewrite case this detects
            full_rewrite = bool(logged) and all(
                rel in removed for rel in logged
            )
            if logged_schema is None or full_rewrite:
                evolved = added_schema
            else:
                by_name = {f.name: f for f in logged_schema.fields}
                conflicts = [
                    f.name
                    for f in added_schema.fields
                    if f.name in by_name
                    and by_name[f.name].dataType != f.dataType
                ]
                if conflicts:
                    raise ValueError(
                        "sync_delta_log_from_manifest: column type "
                        f"changed in new files for {conflicts} — "
                        "type-changing schema evolution is unsupported "
                        "(it would silently corrupt external Delta "
                        "reads); rewrite the whole table instead"
                    )
                evolved = StructType(
                    list(logged_schema.fields)
                    + [
                        f
                        for f in added_schema.fields
                        if f.name not in by_name
                    ]
                )
            if logged_schema != evolved:
                metadata_update = dict(logged_meta)
                metadata_update["schemaString"] = evolved.json()
        version = _write_delta_commit_locked(
            spark, fs, jpath, path, add, remove, schema_json, None, None,
            known_version=last_version,
            metadata_update=metadata_update,
        )
        # periodic classic checkpoint (r13 review): the writer twin
        # never checkpointed, so every sync replayed the WHOLE JSON
        # tail — O(history) per auto-synced DML verb, O(n^2)
        # cumulative. Every _CHECKPOINT_INTERVAL commits, snapshot the
        # post-commit live set (= the manifest, already in hand) into
        # NNN.checkpoint.parquet + _last_checkpoint, bounding replay to
        # one parquet + <= interval JSON commits for our reader AND
        # external engines. Best-effort: a crash mid-checkpoint leaves
        # the JSON chain authoritative (the protocol's own posture).
        if version > 0 and version % _CHECKPOINT_INTERVAL == 0:
            meta_cp = metadata_update or (
                snap["metadata"] if last_version >= 0 else None
            )
            if meta_cp:
                import time as _time

                now_ms = int(_time.time() * 1000)
                # prior tombstones still dead at this version, plus the
                # removes THIS commit just tombstoned; a path in `add`
                # came back to life and must not carry a remove
                tombs = dict(
                    snap.get("tombstones") or {} if last_version >= 0 else {}
                )
                tombs.update({rel: now_ms for rel in remove})
                for rel, _b in add:
                    tombs.pop(rel, None)
                _write_delta_checkpoint(
                    spark, fs, jpath, path, version, live, meta_cp,
                    tombstones=tombs,
                )
        return {
            "version": version, "n_add": len(add), "n_remove": len(remove),
            "changed": True, "schema_updated": metadata_update is not None,
        }
    finally:
        _release_table_lock(fs, jpath, path)


# --- DML-path auto-sync (r12 verdict item 6) ---------------------------------
#
# `sync_delta_log_from_manifest` converges log <-> manifest ON DEMAND;
# tables that opt in via `enable_auto_delta_sync` get that convergence
# AFTER EVERY journaled DML verb (merge/insert/delete/update/compact):
# the verb commits its manifest delta under the maintenance lock,
# releases, and the auto-sync immediately re-acquires and emits the
# matching Delta actions. Crash discipline: the sync is a pure DIFF of
# manifest vs log, so a crash between manifest commit and log sync is
# converged by the NEXT verb (or an explicit `cli delta-log --sync`) —
# the same self-healing recovery the manual sync always had. Honest
# caveat: in that window the stale log can reference files a COW
# rewrite already retired (snapshot-unprotected files are DELETED), so
# an external reader racing the window can hit missing files — the
# same exposure as a manual-sync cadence, just milliseconds instead of
# operator-minutes. True no-window atomicity needs the transactional
# engines themselves (the documented Delta/Iceberg adapter path).

_AUTOSYNC_MARKER = "_delta_autosync"


def enable_auto_delta_sync(spark: SparkSession, path: str) -> dict:
    """Opt ``path`` into per-commit Delta-log mirroring: writes the
    marker and runs the bootstrap sync (requires a manifest — the
    sync's source of truth). Idempotent."""
    path = path.rstrip("/")
    # bootstrap FIRST (it raises without a manifest) — the marker only
    # lands once a sync has succeeded, so a half-enabled table can't
    # make every later DML verb raise
    out = sync_delta_log_from_manifest(spark, path)
    fs, _ = _fs(spark, path)
    jpath = _jvm_path(spark)
    marker = jpath(f"{path}/{_AUTOSYNC_MARKER}")
    if not fs.exists(marker):
        stream = fs.create(marker, True)
        try:
            stream.write(bytearray(b'{"auto_sync": true}\n'))
        finally:
            stream.close()
    return out


def auto_delta_sync_enabled(spark: SparkSession, path: str) -> bool:
    fs, _ = _fs(spark, path.rstrip("/"))
    return fs.exists(_jvm_path(spark)(f"{path.rstrip('/')}/{_AUTOSYNC_MARKER}"))


def maybe_auto_delta_sync(spark: SparkSession, path: str) -> dict | None:
    """Post-commit hook the DML verbs call AFTER releasing the
    maintenance lock (the sync takes its own acquisition — calling it
    under the verb's lock would deadlock). No-op unless the table
    opted in.

    Lock contention here must NOT surface as a DML failure (r13
    review): the verb already committed, so raising would lose its
    result and invite a retry that double-applies the DML. A sync that
    loses the lock race simply skips — the NEXT verb's sync (or a
    manual `cli delta-log --sync`) converges, which is the feature's
    documented crash discipline anyway. Genuine errors (corrupt
    manifest, schema type change) still raise."""
    if not auto_delta_sync_enabled(spark, path):
        return None
    from .compact import ConcurrentMaintenanceError

    try:
        return sync_delta_log_from_manifest(spark, path)
    except ConcurrentMaintenanceError:
        import warnings

        warnings.warn(
            f"auto_delta_sync({path}): maintenance lock contended after "
            "the DML commit — sync skipped; the next verb converges",
            stacklevel=2,
        )
        return None


_CHECKPOINT_INTERVAL = 10  # the Delta default checkpoint cadence
# Delta's delta.deletedFileRetentionDuration default: tombstones younger
# than this must survive into checkpoints (vacuum safety / concurrent-
# reader protection); older ones may expire
_TOMBSTONE_RETENTION_MS = 7 * 24 * 3600 * 1000


def _write_delta_checkpoint(
    spark, fs, jpath, path: str, version: int, live: dict, metadata: dict,
    tombstones: dict | None = None,
) -> None:
    """Classic single-part checkpoint at ``version``: one parquet of
    (protocol, metaData, add, remove) action rows for the given live
    set, then the ``_last_checkpoint`` hint. Caller holds the
    maintenance lock and has just committed ``version``.
    ``tombstones`` (rel_path → deletionTimestamp ms) are the remove
    actions whose paths are still dead at ``version``; rows younger
    than the retention window are carried into the checkpoint per the
    protocol (ADVICE r13 — external engines rely on them for vacuum
    safety), expired ones drop. Paths are URL-encoded exactly like the
    JSON actions; our replay reader and external engines both consume
    this layout (absent optional columns like add.deletionVector read
    as null)."""
    import time

    log = _log_dir(path)
    now_ms = int(time.time() * 1000)
    schema = (
        "protocol struct<minReaderVersion:int,minWriterVersion:int>, "
        "metaData struct<id:string,"
        "format:struct<provider:string,options:map<string,string>>,"
        "schemaString:string,partitionColumns:array<string>,"
        "configuration:map<string,string>,createdTime:bigint>, "
        "add struct<path:string,partitionValues:map<string,string>,"
        "size:bigint,modificationTime:bigint,dataChange:boolean>, "
        "remove struct<path:string,deletionTimestamp:bigint,"
        "dataChange:boolean>"
    )
    meta_row = {
        "id": metadata.get("id"),
        "format": {
            "provider": (metadata.get("format") or {}).get(
                "provider", "parquet"
            ),
            "options": dict((metadata.get("format") or {}).get("options") or {}),
        },
        "schemaString": metadata.get("schemaString"),
        "partitionColumns": list(metadata.get("partitionColumns") or []),
        "configuration": dict(metadata.get("configuration") or {}),
        "createdTime": metadata.get("createdTime"),
    }
    rows = [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {"metaData": meta_row},
    ] + [
        {
            "add": {
                "path": quote(rel, safe="/="),
                "partitionValues": _partition_values(rel),
                "size": int(b),
                "modificationTime": now_ms,
                "dataChange": False,
            }
        }
        for rel, b in sorted(live.items())
    ] + [
        {
            "remove": {
                "path": quote(rel, safe="/="),
                "deletionTimestamp": int(ts),
                "dataChange": False,
            }
        }
        for rel, ts in sorted((tombstones or {}).items())
        if int(ts) > now_ms - _TOMBSTONE_RETENTION_MS and rel not in live
    ]
    tmp = f"{log}/.checkpoint_tmp"
    _rm(fs, jpath, tmp)
    spark.createDataFrame(rows, schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(tmp)
    part = None
    for st in fs.listStatus(jpath(tmp)):
        name = st.getPath().getName()
        if name.endswith(".parquet") and not name.startswith(("_", ".")):
            part = name
            break
    if part is None:
        raise IOError(f"checkpoint write produced no parquet part in {tmp}")
    dst = jpath(f"{log}/{version:020d}.checkpoint.parquet")
    fs.delete(dst, False)
    if not fs.rename(jpath(f"{tmp}/{part}"), dst):
        raise IOError(f"could not move checkpoint part to {dst}")
    _rm(fs, jpath, tmp)
    hint = {"version": version, "size": len(rows), "parts": 1}
    _write_json(spark, fs, f"{log}/_last_checkpoint", hint)
