"""The plain-parquet table layer's commit protocol, in one module.

A reproducible pipeline recovers from a crash by re-running the task,
so every store this package persists must survive a crash in the
middle of a commit. This module owns the six pieces of that protocol;
it imports nothing else from the package:

- the Hadoop ``FileSystem`` / ``Path`` handle (:func:`_fs`,
  :func:`_jvm_path`) — any scheme the session can read;
- small-file reads (:func:`_read_bytes`, :func:`_read_json`) and the
  atomic JSON write (:func:`_write_json`). On the ``file:`` scheme both
  go through plain OS calls: py4j ships byte arrays at ~1 MB/s
  (measured 6-10 s for a megabytes-sized bloom sidecar through the JVM
  stream vs milliseconds through ``open()``), and ``os.replace`` swaps
  a file atomically where Hadoop's ``FileSystem.rename`` refuses an
  existing target. Other schemes go through the JVM, and the replace
  is ``FileContext.rename(..., OVERWRITE)`` — one NameNode operation on
  HDFS;
- the journaled file-move commit (:func:`_journaled_move_in`,
  :func:`_recover_journal`, :func:`_clear_journal`) that merge/delete
  and the rollup fold share: a journal naming the staged files lands
  atomically BEFORE any live file changes, so a crash anywhere after
  it is completed, never re-planned. Recovery hands the journal back
  to the caller, which does its own drop of the replaced files;
- the whole-directory staged swap (:func:`_staged_swap`,
  :func:`_recover_staged_swap`) for stores rewritten whole on every
  commit (HLL registers, the PSI baseline, the IVF index, matview
  rebuilds and every output frame below): stage to a sibling dir, land
  a sibling journal (the commit point), drop the old dir, rename the
  staged dir in, clear the journal;
- the output-frame commit (:func:`commit_frame`, :func:`recover_frame`)
  that every CLI verb, the validate and materialize stages and the
  streaming discover manifest write through: the staged swap around a
  Spark write, because ``mode("overwrite")`` deletes the live output
  before its write job runs, so a write that fails leaves an empty
  directory.
  It returns a read of the committed files, so a verb's summary counts
  what was written and never re-runs the plan that wrote it.

A crashed swap is finished (journal present) or its staging discarded
by the next write to the same path, not by readers. Table-store
callers run every commit under the table maintenance lock
(``pipeline/compact.py``).
"""

from __future__ import annotations

import json
import os

#: the merge/delete/update/insert commit journal, inside the table dir
MERGE_JOURNAL = "__merge_pending.json"


def _jvm_path(spark):
    """The JVM ``org.apache.hadoop.fs.Path`` class."""
    return spark.sparkContext._jvm.org.apache.hadoop.fs.Path


def _fs(spark, path: str):
    """(Hadoop FileSystem, Path) for ``path`` — any scheme."""
    jpath = _jvm_path(spark)(path)
    return jpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration()), jpath


def _rm(fs, jvm_path_cls, path_str: str) -> None:
    p = jvm_path_cls(path_str)
    if fs.exists(p):
        fs.delete(p, True)


def _local_form(fs, p: str) -> str | None:
    """The plain OS path when ``fs`` is the local filesystem, else None."""
    if fs.getUri().getScheme() != "file":
        return None
    return p[len("file:"):] if p.startswith("file:") else p


def _read_bytes(spark, fs, p: str) -> bytes:
    """A whole small file. Raises FileNotFoundError when absent. The
    JVM arm reads in one call: py4j ``byte[]`` arguments are copies, so
    a chunked read loop cannot work."""
    local = _local_form(fs, p)
    if local is not None:
        with open(local, "rb") as f:
            return f.read()
    jp = _jvm_path(spark)(p)
    if not fs.exists(jp):
        raise FileNotFoundError(p)
    stream = fs.open(jp)
    try:
        jvm = spark.sparkContext._jvm
        return bytes(jvm.org.apache.commons.io.IOUtils.toByteArray(stream))
    finally:
        stream.close()


def _read_json(spark, fs, p: str) -> dict:
    return json.loads(_read_bytes(spark, fs, p).decode())


def _write_json(spark, fs, p: str, payload: dict) -> None:
    """Atomically replace ``p`` with ``payload``: write a hidden sibling
    tmp, then swap it over the target in one step. A crash at any point
    leaves either the old file or the new one, never neither."""
    data = json.dumps(payload, sort_keys=True, default=str).encode()
    d, b = p.rsplit("/", 1) if "/" in p else (".", p)
    local = _local_form(fs, p)
    if local is not None:
        ld = os.path.dirname(local) or "."
        os.makedirs(ld, exist_ok=True)
        tmp = os.path.join(ld, f".{b}.tmp")
        try:
            with open(tmp, "wb") as f:
                f.write(data)
            # a checksum left by a Hadoop-written predecessor would fail
            # Hadoop's checksummed reads of the new bytes
            crc = os.path.join(ld, f".{b}.crc")
            if os.path.exists(crc):
                os.remove(crc)
            os.replace(tmp, local)
        finally:
            if os.path.exists(tmp):
                os.remove(tmp)
        return
    jvm_path = _jvm_path(spark)
    tmp = jvm_path(f"{d}/.{b}.tmp")
    stream = fs.create(tmp, True)
    try:
        stream.write(bytearray(data))
    finally:
        stream.close()
    _jvm_replace(spark, fs, tmp, jvm_path(p))


def _jvm_replace(spark, fs, src, dst) -> None:
    """Rename ``src`` over an existing ``dst`` through the JVM."""
    jvm = spark.sparkContext._jvm
    rename = jvm.org.apache.hadoop.fs.Options.Rename
    opts = spark.sparkContext._gateway.new_array(rename, 1)
    opts[0] = rename.OVERWRITE
    fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(fs.getUri(), fs.getConf())
    fc.rename(src, dst, opts)


# --- journaled file-move commit ----------------------------------------------


def _write_journal(spark, fs, journal: str, payload: dict) -> None:
    """Land a commit journal — THE commit point of both protocols."""
    _write_json(spark, fs, journal, payload)


def _move_staged_in(fs, jvm_path, path: str, tmp: str, rels: list) -> int:
    """Move ``tmp/<rel>`` to ``path/<rel>`` for every rel not yet moved
    (idempotent, so recovery can re-run it). Returns the number moved."""
    moved = 0
    for rel in rels:
        src, dst = jvm_path(f"{tmp}/{rel}"), jvm_path(f"{path}/{rel}")
        if fs.exists(src) and not fs.exists(dst):
            fs.mkdirs(dst.getParent())
            if not fs.rename(src, dst):
                raise IOError(f"commit: could not move {rel} into {path}")
            moved += 1
    return moved


def _journaled_move_in(spark, fs, path: str, tmp: str, journal: str, payload: dict) -> int:
    """Journal ``payload`` (its ``add`` = staged rels under ``tmp``),
    then move the staged files in. The caller drops what they replace
    and then calls :func:`_clear_journal`. Returns the number moved."""
    _write_journal(spark, fs, journal, payload)
    return _move_staged_in(fs, _jvm_path(spark), path, tmp, payload["add"])


def _recover_journal(spark, fs, path: str, tmp: str, journal: str) -> dict | None:
    """First half of recovering a crashed journaled commit: with no
    journal the staging is discarded and None returned; otherwise the
    staged moves are finished and the journal is handed back for the
    caller's own drop and :func:`_clear_journal`."""
    jvm_path = _jvm_path(spark)
    if not fs.exists(jvm_path(journal)):
        _rm(fs, jvm_path, tmp)  # pre-journal staging is safe to discard
        return None
    payload = _read_json(spark, fs, journal)
    _move_staged_in(fs, jvm_path, path, tmp, payload["add"])
    return payload


def _clear_journal(spark, fs, journal: str, tmp: str) -> None:
    jvm_path = _jvm_path(spark)
    fs.delete(jvm_path(journal), False)
    _rm(fs, jvm_path, tmp)


# --- whole-directory staged swap ---------------------------------------------


def _swap_in(fs, jvm_path, path: str, tmp: str) -> None:
    """Drop the old dir and rename the staged dir in."""
    _rm(fs, jvm_path, path)
    if not fs.rename(jvm_path(tmp), jvm_path(path)):
        raise IOError(f"staged swap: could not swap staged store into {path}")


def _staged_swap(spark, fs, path: str, tmp: str, pending: str) -> None:
    """Commit the complete store staged at ``tmp`` as ``path``: land the
    ``pending`` journal (the commit point), swap, clear the journal."""
    _write_journal(spark, fs, pending, {})
    jvm_path = _jvm_path(spark)
    _swap_in(fs, jvm_path, path, tmp)
    fs.delete(jvm_path(pending), False)


def _recover_staged_swap(spark, fs, path: str, tmp: str, pending: str) -> bool:
    """Complete (or discard) a crashed staged swap. Journal present →
    the staged dir is the truth, finish the swap; journal absent →
    pre-journal staging is safe to discard. Idempotent. Returns True if
    a journaled commit was finished."""
    jvm_path = _jvm_path(spark)
    jpend = jvm_path(pending)
    if not fs.exists(jpend):
        _rm(fs, jvm_path, tmp)
        return False
    if fs.exists(jvm_path(tmp)):
        _swap_in(fs, jvm_path, path, tmp)
    elif not fs.exists(jvm_path(path)):
        raise IOError(
            f"staged swap: journal {pending} present but neither the "
            "store nor the staged dir exists — manual inspection required"
        )
    fs.delete(jpend, False)
    return True


# --- output-frame commit -----------------------------------------------------


def recover_frame(spark, path: str) -> None:
    """Finish or discard a crashed :func:`commit_frame` of ``path`` —
    for a caller that reads the previous output before writing anew."""
    path = path.rstrip("/")
    fs, _ = _fs(spark, path)
    _recover_staged_swap(spark, fs, path, path + ".tmp", path + ".pending")


def commit_frame(df, path: str, fmt: str = "parquet", partition_by=(), **options):
    """Write ``df`` to ``path`` whole or not at all: stage it in the
    sibling ``path.tmp``, then swap it in under the ``path.pending``
    journal. The previous output survives a failed write. Returns a
    lazy read of the committed files; the schema is ``df``'s, so an
    empty partitioned write reads back empty."""
    spark = df.sparkSession
    path = path.rstrip("/")
    tmp, pending = path + ".tmp", path + ".pending"
    fs, _ = _fs(spark, path)
    _recover_staged_swap(spark, fs, path, tmp, pending)
    (
        df.write.mode("overwrite")
        .format(fmt)
        .options(**options)
        .partitionBy(*partition_by)
        .save(tmp)
    )
    _staged_swap(spark, fs, path, tmp, pending)
    return spark.read.schema(df.schema).format(fmt).load(path)
