"""Bucketed tables: pre-shuffled layouts for exchange-free equi-joins.

At 100 TB the dominant cost of a repeated big⋈big equi-join (documents
⋈ embeddings on doc_id, lineitem ⋈ orders on orderkey) is the shuffle:
every run re-hashes and re-ships both sides across the cluster. Spark's
bucketing amortizes that shuffle into the WRITE: each side is stored
hash-partitioned into N buckets on the join key (murmur3 pmod N — the
same function the shuffle would use), so a join of two co-bucketed
tables needs NO Exchange at all — each task zips bucket i with bucket
i. With ``sort=True`` the buckets are also stored sorted, so the
sort-merge join skips its per-task Sort too: the join becomes a pure
streaming merge of pre-sorted files. Grouping/windowing by the bucket
key gets the same exchange elision on one table.

Why a module instead of "just call bucketBy": Spark's writer produces
one file per bucket PER TASK — an unpartitioned ``df.write.bucketBy``
from a 2000-task upstream writes up to 2000×N files and the reader
then distrusts intra-bucket sort order (multi-file buckets are merged,
not streamed). :func:`bucket_write` first ``repartition(N, keys)`` —
hash-identical to the bucket function — so exactly one file per bucket
lands, the layout stays compact, and sorted buckets stay trusted.

Bucketed tables must live in the session catalog (the bucket spec is
table metadata, not parquet metadata), but the DATA stays at the
caller's path — ``saveAsTable`` with an explicit ``path`` creates an
EXTERNAL table: dropping the catalog entry never deletes the files,
and a plain ``spark.read.parquet(path)`` still works (it just doesn't
know about buckets). This is the plain-parquet analogue of what a table
format records natively; deployment mapping: Iceberg bucket partition
transforms / Delta Liquid-ish clustering + Hive bucketed tables.

Reference scope note: the reference pipeline (single-process Polars)
has no multi-table join amortization story; this module is part of the
100 TB extension surface, same as dedup/ANN.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


MARKER = "_bucketed.json"


class BucketedTableError(RuntimeError):
    """A row- or file-rewriting op ran against a bucketed table's path."""


def _keys(by) -> list[str]:
    return [by] if isinstance(by, str) else list(by)


def is_bucketed_path(spark: SparkSession, path: str) -> bool:
    from .fsio import _fs, _jvm_path

    fs, _ = _fs(spark, path)
    jvm_path = _jvm_path(spark)
    return fs.exists(jvm_path(f"{path.rstrip('/')}/{MARKER}"))


def guard_not_bucketed(spark: SparkSession, path: str, op: str) -> None:
    """Refuse repo DML/maintenance against a bucketed table's files.

    The bucket spec lives in the CATALOG, not the parquet — any file
    rewrite (COW merge/delete/update, compaction, layout rewrites, MOR
    purge) produces files whose placement no longer honors
    hash(key) pmod N, while ``spark.table`` still plans exchange-free
    joins that TRUST it: joins then silently drop or mismatch rows.
    Deletion-vector writes are refused too — the catalog read path
    (``spark.table``) knows nothing of DVs, so deleted rows would
    resurrect in every bucketed join. Rewrite through
    :func:`bucket_write` instead, or use an unbucketed table for
    DML-heavy data."""
    if is_bucketed_path(spark, path):
        raise BucketedTableError(
            f"{op}: {path} is a bucketed table ({MARKER} present) — "
            "file rewrites break the catalog's bucket spec and corrupt "
            "exchange-free joins; re-materialize with bucket_write() or "
            "use an unbucketed copy for DML"
        )


def bucket_write(
    df: DataFrame,
    name: str,
    by,
    n_buckets: int,
    path: str,
    mode: str = "overwrite",
    sort: bool = True,
) -> dict:
    """Persist ``df`` as an external bucketed table ``name`` at ``path``,
    hash-bucketed (and per-bucket sorted, by default) on ``by``.

    ``repartition(n_buckets, keys)`` first: repartition's
    HashPartitioning and the bucket-id function are the same murmur3
    pmod, so partition i holds exactly bucket i — one file per bucket,
    sort order trusted by the reader. Returns {table, path, n_buckets,
    rows}.
    """
    import json as _json

    keys = _keys(by)
    spark = df.sparkSession
    if mode == "overwrite":
        spark.sql(f"DROP TABLE IF EXISTS {name}")
    writer = (
        df.repartition(n_buckets, *[F.col(k) for k in keys])
        .write.mode(mode)
        .format("parquet")
        .option("path", path)
        .bucketBy(n_buckets, keys[0], *keys[1:])
    )
    if sort:
        writer = writer.sortBy(keys[0], *keys[1:])
    writer.saveAsTable(name)
    # marker: the repo's DML/maintenance ops refuse this path (their
    # file rewrites would break the catalog's bucket spec — see
    # guard_not_bucketed)
    from .fsio import _fs, _jvm_path

    fs, _ = _fs(spark, path)
    jvm_path = _jvm_path(spark)
    out = fs.create(jvm_path(f"{path.rstrip('/')}/{MARKER}"), True)
    out.write(
        bytearray(
            _json.dumps(
                {
                    "table": name,
                    "by": keys,
                    "n_buckets": n_buckets,
                    "sorted": bool(sort),
                }
            ).encode()
        )
    )
    out.close()
    return {
        "table": name,
        "path": path,
        "n_buckets": n_buckets,
        "rows": spark.table(name).count(),
    }


def read_bucketed(spark: SparkSession, name: str) -> DataFrame:
    """The bucket-aware read (``spark.table``). A plain
    ``spark.read.parquet(path)`` of the same files works but plans
    shuffles as if unbucketed — the bucket spec lives in the catalog."""
    return spark.table(name)


def cobucket_join(
    spark: SparkSession,
    left: str,
    right: str,
    on,
    how: str = "inner",
) -> DataFrame:
    """Join two co-bucketed tables on their bucket key. With equal
    bucket counts this plans with ZERO Exchange (verify with
    :func:`exchange_count`); with counts n and k·n Spark still elides
    one side's shuffle (bucket coalescing)."""
    return read_bucketed(spark, left).join(
        read_bucketed(spark, right), on=_keys(on), how=how
    )


def exchange_count(df: DataFrame, execute: bool = False) -> int:
    """Shuffle (Exchange) nodes in the physical plan — the property
    bucketing exists to drive to zero. With ``execute=True`` the frame
    is run first so AQE's FINAL plan is counted (under AQE the
    pre-execution string shows the initial plan)."""
    if execute:
        # noop sink: runs the whole plan JVM-side, no rows to Python
        df.write.format("noop").mode("overwrite").save()
    tree = df._jdf.queryExecution().executedPlan().toString()
    # shuffle exchanges only: BroadcastExchange moves no partitioned
    # data and is counted by neither this audit nor the bucketing claim
    return len(re.findall(r"(?<!Broadcast)Exchange", tree))
