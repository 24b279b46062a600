"""Data card: the datasheet a corpus release ships with.

Model releases carry a data statement — row counts, source mixture,
per-column quality stats, what maintenance produced the table, which
snapshot pins it. Every ingredient already exists in this engine
(profile, rollup-style counts, history, snapshots); this module
composes them into ONE JSON document per table so a release is
self-describing.

Scale shape: one profiling pass over the table (the ``exact_distinct=
False`` HLL profile — no Expand) plus one per-source count aggregate;
everything else (files/bytes listing, history, snapshot manifests) is
driver-side metadata. At 100 TB the card costs what a profile costs —
one scan — and with a maintained profile/rollup store it could be
assembled with no scan at all (the stores ARE the card's aggregates).
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from .compact import _list_parquet
from .fsio import _fs, _write_json


def data_card(
    spark: SparkSession,
    path: str,
    columns: list[str] | None = None,
    source_col: str | None = None,
    snapshot_tag: str | None = None,
    max_history: int = 20,
    privacy_quasi: list[str] | None = None,
    privacy_sensitive: str | None = None,
    privacy_k: int = 3,
    privacy_l: int = 2,
) -> dict:
    """Assemble the card. ``columns`` limits the profile (default: all
    atomic columns); ``source_col`` adds the per-source mixture table;
    ``snapshot_tag`` records which pin this card describes;
    ``privacy_quasi`` + ``privacy_sensitive`` add the k-anonymity /
    l-diversity summary (the Datasheets-for-Datasets privacy section,
    computed by plans/privacy.py's one-aggregate audit)."""
    from ..plans.profile import profile_frame
    from .history import history
    from .snapshot import list_snapshots

    path = path.rstrip("/")
    df = spark.read.parquet(path)

    from pyspark.sql import types as T

    atomic = [
        f.name
        for f in df.schema.fields
        if not isinstance(
            f.dataType, (T.ArrayType, T.MapType, T.StructType, T.BinaryType)
        )
    ]
    prof_cols = columns if columns else atomic
    total_bytes, n_files, _by_dir = _list_parquet(spark, path)

    card: dict = {
        "path": path,
        "bytes": int(total_bytes),
        "n_files": int(n_files),
        "schema": [
            {"name": f.name, "type": f.dataType.simpleString()}
            for f in df.schema.fields
        ],
    }
    if snapshot_tag is not None:
        card["snapshot_tag"] = snapshot_tag

    if prof_cols:
        # approx-distinct profile: the 100 TB default (no Expand)
        prof = profile_frame(
            df.select(*prof_cols), prof_cols, exact_distinct=False
        ).collect()
        card["n_rows"] = int(prof[0]["n_rows"]) if prof else int(df.count())
        card["columns"] = [
            {
                "name": r["column_name"],
                "n_null": int(r["n_null"]),
                "n_distinct_approx": int(r["n_distinct"]),
                "min": r["min_val"],
                "max": r["max_val"],
            }
            for r in prof
        ]
    else:
        card["n_rows"] = int(df.count())

    if source_col is not None:
        mix = (
            df.groupBy(source_col)
            .agg(F.count("*").alias("n"))
            .orderBy(F.desc("n"), source_col)
            .collect()
        )
        total = sum(r["n"] for r in mix) or 1
        card["mixture"] = [
            {
                "source": r[source_col],
                "n_rows": int(r["n"]),
                "share_milli": int(round(1000 * r["n"] / total)),
            }
            for r in mix
        ]

    if privacy_quasi:
        if privacy_sensitive is None:
            raise ValueError("data_card: privacy_quasi needs privacy_sensitive")
        from ..plans.privacy import k_anonymity_audit

        aud = k_anonymity_audit(
            df, privacy_quasi, privacy_sensitive, k=privacy_k, l_div=privacy_l
        ).agg(
            F.count("*").alias("classes"),
            F.sum("k_violation").alias("k_violations"),
            F.sum("l_violation").alias("l_violations"),
            F.sum(F.col("class_size") * F.col("k_violation")).alias("rows_at_risk"),
        ).collect()[0]
        card["privacy"] = {
            "quasi_identifiers": list(privacy_quasi),
            "sensitive": privacy_sensitive,
            "k": privacy_k,
            "l": privacy_l,
            **{k: int(aud[k] or 0) for k in
               ("classes", "k_violations", "l_violations", "rows_at_risk")},
        }

    snaps = list_snapshots(spark, path)
    if snaps:
        card["snapshots"] = snaps
    ev = history(spark, path)
    if ev:
        card["history_tail"] = ev[-max_history:]

    import datetime as _dt

    card["generated_utc"] = _dt.datetime.now(_dt.timezone.utc).isoformat()
    return card


def write_data_card(spark: SparkSession, path: str, out: str, **kwargs) -> dict:
    """Write the card next to the data (or wherever ``out`` points)
    through the atomic JSON write."""
    card = data_card(spark, path, **kwargs)
    fs, _ = _fs(spark, out)
    _write_json(spark, fs, out, card)
    return card
