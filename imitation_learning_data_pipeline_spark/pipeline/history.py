"""Maintenance audit log: one commit-event file per state-changing op.

Table formats keep a commit log; plain parquet keeps nothing — after
three merges, a compaction, and a delete, "what happened to this table
and when" is unanswerable. This module records each maintenance
operation (merge_into, delete_from, compact, compact_sprawling,
snapshot create/drop) as ONE small JSON file under
``{path}/_history/`` — a file per event, never an append (object
stores have no atomic append), named ``<utc-iso>-<uuid8>.json`` so a
plain listing IS the chronological log. ``history(spark, path)``
returns the parsed events oldest-first.

Scale shape: strictly metadata-sized — an event is the op name plus
the stats dict the op already computed; reading the log lists one
directory. The ``_``-prefixed dir is invisible to Spark/DuckDB data
discovery, survives compact's directory swap (carried back alongside
``_snapshots`` by the post-swap hook), and is best-effort: a failed
log write warns rather than failing a committed operation.
"""

from __future__ import annotations

import uuid as _uuid

from pyspark.sql import SparkSession

from .fsio import _fs, _read_json, _write_json

_HISTORY = "_history"


def log_event(spark: SparkSession, path: str, op: str, stats: dict) -> None:
    """Record a completed maintenance op. Best-effort by design: the op
    has already committed; an unloggable event must not un-commit it."""
    import datetime as _dt

    path = path.rstrip("/")
    try:
        fs, _ = _fs(spark, path)
        ts = _dt.datetime.now(_dt.timezone.utc)
        name = ts.strftime("%Y%m%dT%H%M%S.%f") + "-" + _uuid.uuid4().hex[:8]
        event = {"op": op, "ts_utc": ts.isoformat(), **stats}
        _write_json(spark, fs, f"{path}/{_HISTORY}/{name}.json", event)
    except Exception as e:  # pragma: no cover - depends on FS failures
        import sys

        print(f"history: could not log {op} on {path}: {e}", file=sys.stderr)


def history(spark: SparkSession, path: str) -> list[dict]:
    """Parsed maintenance events, oldest-first (filename order — the
    names embed the UTC timestamp)."""
    path = path.rstrip("/")
    fs, d = _fs(spark, f"{path}/{_HISTORY}")
    if not fs.exists(d):
        return []
    return [
        _read_json(spark, fs, st.getPath().toString())
        for st in sorted(
            (s for s in fs.listStatus(d) if s.getPath().getName().endswith(".json")),
            key=lambda s: s.getPath().getName(),
        )
    ]
