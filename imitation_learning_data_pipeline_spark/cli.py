"""Command-line entry point: the reference's five-stage CLI, Spark-backed.

Reference: scripts/neura.py:16-211 — a click CLI with `discover`,
`validate`, `stats`, `align-transform`, `materialize` subcommands, each a
DockerOperator task in the Airflow DAG. Same subcommands and options
here (argparse: zero extra dependencies), each mapping to the
``pipeline`` stage functions; the per-episode Python loops of the
reference are Spark jobs.

Usage:
  python -m imitation_learning_data_pipeline_spark.cli discover --data-root DIR --manifest OUT \
      [--since ISO] [--only-chunks chunk-000,chunk-001] [--stdout] [--all]
  python -m imitation_learning_data_pipeline_spark.cli validate --manifest FILE --data-root DIR \
      [--meta-dir DIR] [--out DIR] [--tolerance N]
  python -m imitation_learning_data_pipeline_spark.cli stats --data-root DIR [--episodes-stats F]
      [--validated-ids F] [--features a,b] [--out F]
  python -m imitation_learning_data_pipeline_spark.cli align-transform --data-root DIR --out DIR
      [--stats F] [--no-normalize]
  python -m imitation_learning_data_pipeline_spark.cli materialize --norm-dir DIR --out DIR
      [--seed N] [--train F] [--val F] [--test F] [--videos-root DIR]
      [--link-videos MODE]
  python -m imitation_learning_data_pipeline_spark.cli dedup --input DOCS.parquet --out DIR
      [--method minhash|simhash|jaccard] [--threshold F | --hamming-k N]
      [--id-col C] [--text-col C]
"""

from __future__ import annotations

import argparse
import json
import os
import sys

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def _spark(app: str) -> SparkSession:
    from .session import get_spark

    return get_spark(f"neura-{app}")


# --- discover ----------------------------------------------------------------


def cmd_discover(args: argparse.Namespace) -> int:
    from .pipeline.compact import (
        _fs,
        _recover_staged_swap,
        _staged_swap_in,
        _staged_swap_write_journal,
    )
    from .pipeline.discover import discover, discover_delta

    spark = _spark("discover")
    # Crash-safe manifest swap (discover_refactored.py:23-27 writes tmp +
    # rename): stage to a sibling dir, land a journal as the commit
    # point, then swap. A run that crashed mid-swap is finished here
    # (journal present) or its staging discarded, before the manifest is
    # read as this run's prior state.
    fs, _ = _fs(spark, args.manifest)
    jpath = spark.sparkContext._jvm.org.apache.hadoop.fs.Path
    tmp, pending = args.manifest + ".tmp", args.manifest + ".pending"
    _recover_staged_swap(fs, jpath, args.manifest, tmp, pending)
    prev = None
    if fs.exists(jpath(args.manifest)):
        prev = spark.read.parquet(args.manifest)

    manifest = discover(
        spark,
        args.data_root,
        prev_manifest=prev,
        since=args.since,
        full_hash=args.full_hash,
    )
    if args.only_chunks:
        # P8 chunk-subset filter → partition-pruning predicate
        # (discover_refactored.py:86-89, scripts/neura.py:51-53).
        chunks = [c.strip() for c in args.only_chunks.split(",") if c.strip()]
        manifest = manifest.filter(F.col("chunk").isin(chunks))
    # Within a key, a DELETED tombstone sorts before its ORPHAN_VIDEO row.
    manifest = manifest.orderBy(
        "chunk", "episode_index", F.col("status") == "ORPHAN_VIDEO"
    )
    manifest.write.mode("overwrite").parquet(tmp)
    _staged_swap_write_journal(fs, jpath, pending)
    _staged_swap_in(fs, jpath, args.manifest, tmp)
    fs.delete(jpath(pending), False)

    done = spark.read.parquet(args.manifest)
    delta = done if args.print_all else discover_delta(done)
    if args.stdout_jsonl:
        for line in delta.toJSON().collect():  # K9 (scripts/neura.py:66-74)
            print(line)
    else:
        counts = {
            r.status: r.n
            for r in delta.groupBy("status").agg(F.count("*").alias("n")).collect()
        }
        print(json.dumps({"manifest": args.manifest, "delta_counts": counts}))
    return 0


# --- validate ----------------------------------------------------------------


def cmd_validate(args: argparse.Namespace) -> int:
    from .pipeline.outputs import write_validation_outputs
    from .pipeline.validate import validate_episodes

    spark = _spark("validate")
    frames = spark.read.parquet(f"{args.data_root}/data/*")
    meta = None
    meta_path = os.path.join(args.meta_dir, "episodes.jsonl")
    if os.path.exists(meta_path):
        meta = spark.read.json(meta_path)
    # Video checks (validate_one.py:124-137) run whenever a manifest with
    # camera URIs is available and --skip-video was not passed; --fps
    # feeds the ±1.0 fps gate.
    manifest = None
    check_videos = False
    if not args.skip_video and args.manifest and os.path.exists(args.manifest):
        manifest = spark.read.parquet(args.manifest)
        check_videos = True
    report = validate_episodes(
        frames,
        meta,
        rows_tolerance=args.tolerance,
        manifest=manifest,
        check_videos=check_videos,
        fps_expected=args.fps_expected,
    )
    summary = write_validation_outputs(report, args.out_dir)
    print(json.dumps(summary))
    return 0 if summary["fail"] == 0 else 1


# --- stats -------------------------------------------------------------------


def cmd_stats(args: argparse.Namespace) -> int:
    from .pipeline.stats_ingest import read_episode_stats_jsonl
    from .pipeline.stats_stage import combine_global_stats, episode_feature_stats

    spark = _spark("stats")
    features = [f.strip() for f in args.features.split(",") if f.strip()]

    if args.episodes_stats and os.path.exists(args.episodes_stats):
        # Sidecar re-ingest with heterogeneous-shape coercions (A7/F7).
        episode_stats = read_episode_stats_jsonl(spark, args.episodes_stats, features)
    else:
        frames = spark.read.parquet(f"{args.data_root}/data/*")
        episode_stats = episode_feature_stats(frames, features)

    validated_ids = None
    if args.validated_ids and os.path.exists(args.validated_ids):
        validated_ids = spark.read.json(args.validated_ids).select("episode_index")

    rows = combine_global_stats(episode_stats, validated_ids=validated_ids).collect()
    doc = {
        "meta": {"features": features, "source": args.episodes_stats or args.data_root}
    }
    for r in rows:
        doc[r.feature] = {
            "count": r["count"],
            "mean": list(r.mean),
            "std": list(r.std),
            "min": list(r.min),
            "max": list(r.max),
        }
    os.makedirs(os.path.dirname(args.out_path) or ".", exist_ok=True)
    with open(args.out_path, "w") as f:  # K7 JSON document sink
        json.dump(doc, f, indent=2)
    print(json.dumps({"out": args.out_path, "features": len(rows)}))
    return 0


# --- align-transform ---------------------------------------------------------


def cmd_align_transform(args: argparse.Namespace) -> int:
    from .pipeline.align import align_transform

    spark = _spark("align")
    frames = spark.read.parquet(f"{args.data_root}/data/*")
    stats_doc = None
    if not args.no_normalize and os.path.exists(args.stats_path):
        with open(args.stats_path) as f:  # S6 JSON doc → broadcast literals
            raw = json.load(f)
        stats_doc = {
            k: v for k, v in raw.items() if isinstance(v, dict) and "mean" in v
        }
    aligned = align_transform(frames, stats_doc)
    aligned.write.mode("overwrite").option("compression", "zstd").parquet(
        f"{args.out_dir}/data"
    )
    n = spark.read.parquet(f"{args.out_dir}/data").count()
    print(json.dumps({"out": args.out_dir, "rows": n}))
    return 0


# --- materialize -------------------------------------------------------------


def cmd_materialize(args: argparse.Namespace) -> int:
    # No full-index collect anywhere: split counts are an aggregation
    # (3 rows to the driver) and video placement runs per-partition on
    # executors (pipeline.materialize.place_videos) — at 100× episode
    # counts the driver traffic is unchanged.
    from .pipeline.materialize import materialize, place_videos

    spark = _spark("materialize")
    frames = spark.read.parquet(f"{args.norm_dir}/data")
    index = materialize(
        frames, args.out_dir, fracs=(args.train, args.val, args.test), seed=str(args.seed)
    )
    counts = {
        r.split: r.n
        for r in index.groupBy("split").agg(F.count("*").alias("n")).collect()
    }
    placed_n = 0
    if args.videos_root:
        mode = {"manifest-only": "manifest"}.get(args.link_videos, args.link_videos)
        # Videos go to a sibling tree, so `data` stays a parquet-only
        # table that a plain spark.read.parquet can open.
        placed_n = place_videos(
            index, args.videos_root, f"{args.out_dir}/videos", mode
        )
    print(
        json.dumps(
            {"out": args.out_dir, "split_counts": counts, "videos_placed": placed_n}
        )
    )
    return 0


# --- dedup (extension: the LLM-corpus dedup family from the CLI) -------------


def cmd_dedup(args: argparse.Namespace) -> int:
    """Corpus dedup end-to-end from the shell: pairs (chosen method) →
    connected components → canonical keep-list + reduction stats.

    Extension beyond the reference CLI (its pipeline has no text dedup;
    README.md:164-187 future-work scope) exposing plans/dedup.py's
    caller-frame APIs. Writes ``pairs/``, ``clusters/`` and ``keep/``
    parquet under --out and prints one JSON stats line.
    """
    from .plans.dedup import (
        connected_components,
        minhash_pairs,
        ngram_jaccard_pairs,
        simhash_pairs,
    )

    # each method takes exactly one tuning knob; a silently-ignored flag
    # is worse than an error (ADVICE r5: --threshold was dropped on the
    # floor for simhash)
    if args.method == "simhash" and args.threshold is not None:
        raise SystemExit(
            "dedup: --threshold does not apply to --method simhash "
            "(Hamming-distance cutoff); use --hamming-k N"
        )
    if args.method != "simhash" and args.hamming_k is not None:
        raise SystemExit(
            f"dedup: --hamming-k does not apply to --method {args.method}; "
            "use --threshold F"
        )
    threshold = 0.5 if args.threshold is None else args.threshold
    if args.store is not None and args.method != "minhash":
        raise SystemExit(
            "dedup: --store is minhash-only (the persisted signature "
            "store holds minhash bands + shingle sets)"
        )
    if args.fold_into_store and args.store is None:
        raise SystemExit("dedup: --fold-into-store requires --store PATH")

    spark = _spark("dedup")
    docs = spark.read.parquet(args.input).select(
        F.col(args.id_col).cast("long").alias("doc_id"),
        F.col(args.text_col).alias("text"),
    )
    sigs = None
    if args.store is not None:
        import hashlib

        from . import cache
        from .pipeline.compact import _fs
        from .plans.dedup import dedup_against_store, minhash_signatures

        # Hadoop FileSystem existence check — os.path would declare any
        # non-local store (s3a:, hdfs:, gs:) absent, silently skipping
        # cross-batch dedup and then OVERWRITING the remote store.
        fs, bands_p = _fs(spark, f"{args.store}/bands")
        store_exists = fs.exists(bands_p)
        if store_exists and "ingest_batch" not in spark.read.parquet(
            f"{args.store}/bands"
        ).columns:
            # this CLI writes the batch-keyed (ingest_batch=) layout;
            # folding it into a legacy plain-append store mixes two
            # directory structures under bands/ and sets/, which the
            # next store read rejects — refuse before any write
            raise SystemExit(
                f"dedup: store at {args.store} uses the legacy "
                "plain-append layout (no ingest_batch= partition level); "
                "this CLI writes the batch-keyed layout and mixing them "
                "corrupts the store. Migrate by rewriting the store with "
                "write_minhash_store(..., ingest_batch=<id>), or point "
                "--store at a fresh path"
            )
        # Stable batch key (default: md5 of the input path): folding the
        # same batch twice (crash recovery, re-invocation) REPLACES its
        # own ingest_batch partitions instead of double-appending
        # signatures — and excluding it from the store read makes the
        # re-run's pairs identical to the first run's. When a fixed
        # landing directory receives NEW content per run, the path hash
        # collides across batches and the store would silently lose the
        # previous batch's state — pass an explicit --batch-id there.
        batch_key = (
            args.batch_id
            if args.batch_id is not None
            else int(hashlib.md5(args.input.encode()).hexdigest()[:12], 16)
        )
        # compute signatures ONCE and share the frame between the pairs
        # plan and the store fold — shingling is the dominant batch cost
        # and each call would otherwise redo it (the streaming driver
        # already passes sigs=; bootstrap's minhash_pairs path manages
        # its own plan, so the fold there pays one extra pass)
        if store_exists:
            cache.begin_plan()
            sigs = minhash_signatures(docs)
            # incremental: docs are the NEW batch; pairs have ≥1 batch side
            pairs = dedup_against_store(
                docs,
                args.store,
                threshold=threshold,
                exclude_batch=batch_key,
                sigs=sigs,
            )
        else:
            pairs = minhash_pairs(docs, threshold=threshold)
            sigs = None  # minhash_pairs began its own plan; pins evicted
    elif args.method == "minhash":
        pairs = minhash_pairs(docs, threshold=threshold)
    elif args.method == "simhash":
        pairs = (
            simhash_pairs(docs)
            if args.hamming_k is None
            else simhash_pairs(docs, k=args.hamming_k)
        )
    else:
        pairs = ngram_jaccard_pairs(docs, threshold=threshold)
    pairs.write.mode("overwrite").parquet(f"{args.out_dir}/pairs")
    pairs = spark.read.parquet(f"{args.out_dir}/pairs")  # reuse, don't recompute

    if args.fold_into_store:
        from .plans.dedup import write_minhash_store

        # always the batch-keyed layout: idempotent under re-runs, and
        # consistent whether this was the bootstrap batch or not; sigs
        # is the pinned signature frame when the incremental path ran
        write_minhash_store(docs, args.store, ingest_batch=batch_key, sigs=sigs)

    if args.components_store:
        from .plans.dedup import fold_components_into_store

        if pairs.isEmpty():
            pass  # nothing to fold; store stays as-is
        else:
            fold_components_into_store(
                spark, pairs.select("doc_a", "doc_b"), args.components_store
            )

    clusters = connected_components(pairs.select("doc_a", "doc_b"))
    clusters.write.mode("overwrite").parquet(f"{args.out_dir}/clusters")
    clusters = spark.read.parquet(f"{args.out_dir}/clusters")

    batch_ids = docs.select("doc_id")
    if args.store is not None:
        # incremental accounting: only BATCH docs are keep/drop
        # candidates. A batch doc whose cluster touches a STORE doc is a
        # duplicate of already-kept content → drop it; among pure-batch
        # clusters the min-id member survives (cluster_id is the global
        # min, which in a pure-batch cluster is itself a batch doc).
        memb_batch = clusters.join(batch_ids, "doc_id", "left_semi")
        store_clusters = (
            clusters.join(batch_ids, "doc_id", "left_anti")
            .select("cluster_id")
            .distinct()
        )
        drop = (
            memb_batch.join(store_clusters, "cluster_id", "left_semi")
            .select("doc_id")
            .unionByName(
                memb_batch.join(store_clusters, "cluster_id", "left_anti")
                .filter(F.col("doc_id") != F.col("cluster_id"))
                .select("doc_id")
            )
        )
    else:
        drop = clusters.filter(F.col("doc_id") != F.col("cluster_id")).select(
            "doc_id"
        )
    keep = batch_ids.join(drop, "doc_id", "left_anti")
    keep.write.mode("overwrite").parquet(f"{args.out_dir}/keep")
    keep = spark.read.parquet(f"{args.out_dir}/keep")

    n_docs = docs.count()
    n_pairs = pairs.count()
    n_members = clusters.count()
    n_clusters = clusters.select("cluster_id").distinct().count()
    # counted from the materialized keep/ set, so the stats agree with
    # the dataset even in incremental mode (store members are cluster
    # rows but never keep/drop candidates)
    n_kept = keep.count()
    print(
        json.dumps(
            {
                "out": args.out_dir,
                "method": args.method,
                "n_docs": n_docs,
                "n_pairs": n_pairs,
                "n_dup_members": n_members,
                "n_clusters": n_clusters,
                "n_dropped": n_docs - n_kept,
                "n_kept": n_kept,
            }
        )
    )
    return 0


def cmd_compact(args: argparse.Namespace) -> int:
    """Small-file compaction from the shell (pipeline/compact.py):
    whole-dataset rewrite by default, or maintenance mode
    (--sprawling-only) that rewrites just the partitions whose file
    count exceeds the sprawl threshold."""
    from .pipeline.compact import compact, compact_sprawling

    spark = _spark("compact")
    part_cols = args.partition_col.split(",") if args.partition_col else None
    if args.sprawling_only and (args.cluster_by or args.zorder_by):
        raise SystemExit(
            "compact: --cluster-by/--zorder-by apply to the full rewrite, "
            "not --sprawling-only maintenance"
        )
    if args.sprawling_only:
        stats = compact_sprawling(
            spark,
            args.path,
            target_bytes=args.target_mb * 1024 * 1024,
            partition_col=part_cols,
            sprawl_factor=args.sprawl_factor,
        )
    else:
        stats = compact(
            spark,
            args.path,
            target_bytes=args.target_mb * 1024 * 1024,
            partition_col=part_cols,
            cluster_by=args.cluster_by.split(",") if args.cluster_by else None,
            zorder_by=args.zorder_by.split(",") if args.zorder_by else None,
        )
    print(json.dumps({"path": args.path, **stats}))
    return 0


def cmd_split(args: argparse.Namespace) -> int:
    """Leakage-safe train/val/test assignment over a document parquet
    (plans/sampling.py::leakage_safe_splits): near-dup clusters pin to
    one split."""
    from pyspark.sql import functions as F

    from .plans.sampling import leakage_safe_splits

    spark = _spark("split")
    docs = spark.read.parquet(args.path).select(
        F.col(args.id_col).alias("doc_id"), F.col(args.text_col).alias("text")
    )
    fr = [float(x) for x in args.fractions.split(",")]
    if len(fr) != 3:
        raise SystemExit("--fractions must be train,val,test")
    out = leakage_safe_splits(
        docs, train=fr[0], val=fr[1], test=fr[2], seed=args.seed,
        threshold=args.threshold,
    )
    out.write.mode("overwrite").parquet(args.out)
    # summarize from the WRITTEN files — re-running the lazy plan would
    # recompute the whole minhash+components pipeline a second time
    written = spark.read.parquet(args.out)
    counts = {
        r["split"]: r["n"]
        for r in written.groupBy("split").agg(F.count("*").alias("n")).collect()
    }
    print(json.dumps({"out": args.out, "counts": counts}))
    return 0


def cmd_trajectory(args: argparse.Namespace) -> int:
    """Slice episode event streams into fixed-length training windows
    (plans/trajectory.py) and write them as parquet, optionally with the
    per-window feature summary."""
    from .plans.trajectory import slice_windows, window_features

    spark = _spark("trajectory")
    events = spark.read.parquet(args.events)
    wins = slice_windows(
        events,
        episode_col=args.episode_col,
        order_cols=args.order_by.split(","),
        length=args.length,
        stride=args.stride,
        carry_cols=[c for c in events.columns if c != args.episode_col],
    )
    wins.write.mode("overwrite").parquet(f"{args.out}/windows")
    # count from the written files, not a second run of the lazy plan
    summary = {
        "windows": spark.read.parquet(f"{args.out}/windows")
        .select(args.episode_col, "window_id")
        .distinct()
        .count()
    }
    if args.features:
        from pyspark.sql import types as T

        # span_ms needs a real timestamp column; the leading --order-by
        # column is only a heuristic default (a non-timestamp leader
        # would make unix_millis fail or emit garbage span_ms) — validate
        # the type up front and point at --ts-col
        ts_col = args.ts_col or args.order_by.split(",")[0]
        if ts_col not in events.columns:
            raise SystemExit(f"trajectory: --ts-col {ts_col!r} not in events")
        ts_type = events.schema[ts_col].dataType
        if not isinstance(ts_type, (T.TimestampType, T.TimestampNTZType)):
            raise SystemExit(
                f"trajectory: --features needs a timestamp column for "
                f"span_ms, but {ts_col!r} is {ts_type.simpleString()}; "
                "pass --ts-col naming the event-time column"
            )
        window_features(
            events,
            episode_col=args.episode_col,
            order_cols=args.order_by.split(","),
            value_col=args.value_col,
            ts_col=ts_col,
            type_col=args.type_col,
            length=args.length,
            stride=args.stride,
        ).write.mode("overwrite").parquet(f"{args.out}/features")
        summary["features"] = True
    print(json.dumps(summary))
    return 0


def cmd_profile(args: argparse.Namespace) -> int:
    """One-pass column profile of a parquet dataset (plans/profile.py),
    one JSON line per column to stdout."""
    from .plans.profile import profile_frame

    spark = _spark("profile")
    df = spark.read.parquet(args.path)
    if args.columns:
        cols = args.columns.split(",")
    else:
        # default to atomic columns: arrays/maps/structs have no
        # meaningful min/max and belong to explicit --columns requests
        from pyspark.sql import types as T

        cols = [
            f.name
            for f in df.schema.fields
            if not isinstance(
                f.dataType, (T.ArrayType, T.MapType, T.StructType, T.BinaryType)
            )
        ]
        if not cols:
            raise SystemExit(
                "profile: dataset has no atomic columns; name complex ones "
                "explicitly with --columns"
            )
    rows = profile_frame(df, cols, exact_distinct=not args.approx).collect()
    for r in rows:
        print(json.dumps(r.asDict()))
    return 0


def cmd_decontam(args: argparse.Namespace) -> int:
    """Benchmark decontamination from the shell: build a persisted
    probe store from an eval suite, then report per-doc shingle overlap
    for any corpus batch against it (plans/dedup.py)."""
    from .plans.dedup import (
        decontam_fuzzy,
        decontam_overlap_against_store,
        write_probe_store,
    )

    spark = _spark("decontam")
    if args.fuzzy:
        # one-shot fuzzy mode: MinHash-LSH Jaccard vs the probe suite
        # (no store — the probe side broadcasts whole).
        if not args.probe or not args.input:
            raise SystemExit("decontam: --fuzzy needs --probe and --input")
        probe = spark.read.parquet(args.probe).selectExpr(
            f"{args.id_col} AS doc_id", f"{args.text_col} AS text"
        )
        docs = spark.read.parquet(args.input).selectExpr(
            f"{args.id_col} AS doc_id", f"{args.text_col} AS text"
        )
        report = decontam_fuzzy(docs, probe, threshold=args.threshold)
        if args.out:
            report.write.mode("overwrite").parquet(args.out)
            print(json.dumps({"out": args.out, "n_pairs": report.count()}))
        else:
            for r in report.collect():
                print(json.dumps(r.asDict()))
        return 0
    if args.probe:
        if not args.store:
            raise SystemExit("decontam: --probe needs --store")
        probe = spark.read.parquet(args.probe).selectExpr(
            f"{args.id_col} AS doc_id", f"{args.text_col} AS text"
        )
        stats = write_probe_store(probe, args.store, n=args.n, fpp=args.fpp)
        print(json.dumps({"store": args.store, **stats}))
        return 0
    if not args.input or not args.store:
        raise SystemExit("decontam: need --probe --store (build) or --input --store (check)")
    docs = spark.read.parquet(args.input).selectExpr(
        f"{args.id_col} AS doc_id", f"{args.text_col} AS text"
    )
    report = decontam_overlap_against_store(docs, args.store, n=args.n)
    if args.out:
        report.write.mode("overwrite").parquet(args.out)
        print(json.dumps({"out": args.out, "n_contaminated": report.count()}))
    else:
        for r in report.collect():
            print(json.dumps(r.asDict()))
    return 0


def cmd_update(args: argparse.Namespace) -> int:
    """Row-level UPDATE via file-level copy-on-write (pipeline/merge.py):
    apply SET expressions to matching rows, rewriting only their files."""
    from .pipeline.merge import update_where

    spark = _spark("update")
    assignments = {}
    for a in args.set:
        if "=" not in a:
            raise SystemExit(f"update: --set needs col=expr, got {a!r}")
        c, e = a.split("=", 1)
        assignments[c.strip()] = e.strip()
    stats = update_where(
        spark,
        args.path,
        args.where,
        assignments,
        partition_by=args.partition_by.split(",") if args.partition_by else None,
        stale_lock_s=args.stale_lock_s,
    )
    print(json.dumps({"path": args.path, **stats}))
    return 0


def cmd_card(args: argparse.Namespace) -> int:
    """Data card (pipeline/card.py): one JSON datasheet per table —
    counts, schema, column profile, source mixture, snapshots, history."""
    from .pipeline.card import data_card, write_data_card

    spark = _spark("card")
    kwargs = dict(
        columns=args.columns.split(",") if args.columns else None,
        source_col=args.source_col,
        snapshot_tag=args.snapshot_tag,
        privacy_quasi=(
            [c for c in args.privacy_quasi.split(",") if c]
            if args.privacy_quasi
            else None
        ),
        privacy_sensitive=args.privacy_sensitive,
    )
    if args.out:
        card = write_data_card(spark, args.path, args.out, **kwargs)
    else:
        card = data_card(spark, args.path, **kwargs)
    print(json.dumps(card, sort_keys=True, default=str))
    return 0


def cmd_history(args: argparse.Namespace) -> int:
    """Print a table's maintenance audit log (pipeline/history.py) as
    JSON lines, oldest-first."""
    from .pipeline.history import history

    spark = _spark("history")
    for ev in history(spark, args.path):
        print(json.dumps(ev))
    return 0


def cmd_delete(args: argparse.Namespace) -> int:
    """Row-level DELETE: copy-on-write by default (rewrite only the
    files holding matching rows, pipeline/merge.py), or merge-on-read
    with ``--mor`` (write only the matched positions as a deletion
    vector, pipeline/deletes.py — O(rows matched), purge later)."""
    spark = _spark("delete")
    if args.keys is not None:
        if not args.key_col:
            raise SystemExit("delete: --keys needs --key-col")
        from .pipeline.deletes import delete_keys_mor

        stats = delete_keys_mor(
            spark,
            args.path,
            args.key_col,
            args.keys.split(","),
            stale_lock_s=args.stale_lock_s,
        )
    elif args.mor:
        if not args.where:
            raise SystemExit("delete: --mor needs --where")
        from .pipeline.deletes import delete_from_mor

        stats = delete_from_mor(
            spark, args.path, args.where, stale_lock_s=args.stale_lock_s
        )
    else:
        if not args.where:
            raise SystemExit("delete: needs --where (or --key-col/--keys)")
        from .pipeline.merge import delete_from

        stats = delete_from(
            spark,
            args.path,
            args.where,
            partition_by=args.partition_by.split(",") if args.partition_by else None,
            stale_lock_s=args.stale_lock_s,
        )
    print(json.dumps({"path": args.path, **stats}))
    return 0


def cmd_purge_deletes(args: argparse.Namespace) -> int:
    """Fold live deletion vectors back into the data files (the
    deferred copy-on-write bill), reopening file-rewriting maintenance."""
    from .pipeline.deletes import purge_deletes

    spark = _spark("purge-deletes")
    stats = purge_deletes(
        spark,
        args.path,
        partition_by=args.partition_by.split(",") if args.partition_by else None,
        stale_lock_s=args.stale_lock_s,
    )
    print(json.dumps({"path": args.path, **stats}))
    return 0


def cmd_snapshot(args: argparse.Namespace) -> int:
    """Snapshot isolation for plain-parquet tables (pipeline/snapshot.py):
    pin, list, time-travel-read (export), and vacuum."""
    from .pipeline.snapshot import (
        create_snapshot,
        drop_snapshot,
        list_snapshots,
        read_snapshot,
    )

    spark = _spark("snapshot")
    if args.create:
        print(json.dumps(create_snapshot(spark, args.path, args.create)))
        return 0
    if args.drop:
        print(json.dumps({"tag": args.drop, **drop_snapshot(spark, args.path, args.drop)}))
        return 0
    if args.read:
        if not args.out:
            raise SystemExit("snapshot: --read needs --out")
        read_snapshot(spark, args.path, args.read).write.mode(
            "overwrite"
        ).parquet(args.out)
        print(json.dumps({"tag": args.read, "exported": args.out}))
        return 0
    for s in list_snapshots(spark, args.path):
        print(json.dumps(s))
    return 0


def cmd_rollup(args: argparse.Namespace) -> int:
    """Continuous aggregates (plans/rollup.py): one-shot rollup to
    stdout, or maintain an incremental store — bootstrap, O(batch)
    fold, read, compact."""
    from .plans.rollup import (
        compact_rollup_store,
        finalize_rollup,
        fold_rollup_into_store,
        merge_rollup,
        read_rollup,
        rollup_partials,
        write_rollup_store,
    )

    spark = _spark("rollup")
    if args.store and args.read:
        rows = read_rollup(spark, args.store).collect()
        for r in rows:
            print(json.dumps(r.asDict(), default=str))
        return 0
    if args.store and args.compact:
        stats = compact_rollup_store(
            spark,
            args.store,
            to_layout="batch" if args.keep_batch_layout else "plain",
        )
        print(json.dumps({"store": args.store, **stats}))
        return 0
    if not args.input or not args.group or not args.metrics:
        raise SystemExit("rollup: --input/--group/--metrics required")
    quantile_cols = None
    if args.quantiles:
        # COL:LO:HI per entry, e.g. --quantiles value:0:500
        quantile_cols = {}
        for spec in args.quantiles.split(","):
            col, lo, hi = spec.rsplit(":", 2)
            quantile_cols[col] = (float(lo), float(hi))
    df = spark.read.parquet(args.input)
    parts = rollup_partials(
        df,
        args.group.split(","),
        args.metrics.split(","),
        time_col=args.time_col,
        grain=args.grain,
        distinct_cols=args.distinct.split(",") if args.distinct else None,
        quantile_cols=quantile_cols,
        n_bins=args.n_bins,
    )
    if not args.store:
        for r in finalize_rollup(merge_rollup(parts)).collect():
            print(json.dumps(r.asDict(), default=str))
        return 0
    if args.fold:
        stats = fold_rollup_into_store(
            spark, args.store, parts, batch_id=args.batch_id
        )
        print(json.dumps({"store": args.store, **stats}))
    else:
        write_rollup_store(
            parts, args.store, n_buckets=args.n_buckets,
            ingest_batch=args.ingest_batch,
        )
        print(json.dumps({"store": args.store, "bootstrapped": True}))
    return 0


def cmd_graph(args: argparse.Namespace) -> int:
    """Iterative graph algorithms (plans/graph.py): PageRank over any
    parquet edge list."""
    from .plans.graph import pagerank

    spark = _spark("graph")
    edges = spark.read.parquet(args.edges)
    seeds = None
    if args.seeds:
        seeds = spark.createDataFrame(
            [(int(s),) for s in args.seeds.split(",")], "node long"
        )
    pr = pagerank(
        edges,
        damping=args.damping,
        iters=args.iters,
        src=args.src,
        dst=args.dst,
        seeds=seeds,
    )
    if args.out:
        pr.write.mode("overwrite").parquet(args.out)
        print(json.dumps({"out": args.out, "nodes": pr.count()}))
        return 0
    for r in pr.orderBy(F.col("rank").desc()).limit(args.top).collect():
        print(json.dumps(r.asDict()))
    return 0


def cmd_hitters(args: argparse.Namespace) -> int:
    """Exact heavy-hitter n-grams (plans/text.py) over any parquet
    table with a text column — the boilerplate census."""
    from .plans.text import heavy_hitter_ngrams

    spark = _spark("hitters")
    df = spark.read.parquet(args.input)
    out = heavy_hitter_ngrams(
        df, text_col=args.text_col, n=args.n, min_frac=args.min_frac
    )
    if args.out:
        out.write.mode("overwrite").parquet(args.out)
        print(json.dumps({"out": args.out, "hitters": out.count()}))
        return 0
    for r in (
        out.orderBy(F.col("n_occurrences").desc(), "gram")
        .limit(args.top)
        .collect()
    ):
        print(json.dumps(r.asDict()))
    return 0


def cmd_novelty(args: argparse.Namespace) -> int:
    """Per-doc n-gram novelty (plans/dedup.py::ngram_novelty): the
    duplicated-occurrence census behind 'how much of this doc is copied
    from elsewhere in the corpus'."""
    from .plans.dedup import ngram_novelty

    spark = _spark("novelty")
    docs = spark.read.parquet(args.input).select(
        F.col(args.id_col).alias("doc_id"), F.col(args.text_col).alias("text")
    )
    out = ngram_novelty(docs, n=args.ngram).persist()
    try:
        # census over the FULL frame — under --drop-dupey the filtered
        # write would otherwise report low_novelty=0 by construction,
        # hiding exactly what was dropped
        stats = out.agg(
            F.count("*").alias("docs"),
            F.sum(F.when(F.col("is_novel"), 0).otherwise(1)).alias("low_novelty"),
            F.sum("n_dup").alias("dup_occurrences"),
        ).collect()[0]
        kept = out.filter(F.col("is_novel")) if args.drop_dupey else out
        kept.write.mode("overwrite").parquet(args.out)
    finally:
        out.unpersist()
    print(json.dumps({"out": args.out, **stats.asDict()}))
    return 0


def cmd_unimax(args: argparse.Namespace) -> int:
    """UniMax budget allocation (plans/sampling.py::unimax_allocation):
    water-fill a token budget across languages under an epoch cap."""
    from .plans.sampling import unimax_allocation

    spark = _spark("unimax")
    from .functions.text import clean_words

    docs = spark.read.parquet(args.input).select(
        F.col(args.group_col).alias("grp"), F.col(args.text_col).alias("text")
    )
    counts = docs.groupBy("grp").agg(
        F.sum(F.size(clean_words("text")).cast("long")).alias("n_tokens")
    )
    kw = {}
    if args.budget is not None:
        kw["budget"] = args.budget
    else:
        num, den = args.budget_frac.split("/")
        kw["budget_frac"] = (int(num), int(den))
    plan = unimax_allocation(
        counts, group_col="grp", epochs=args.epochs, **kw
    ).withColumnRenamed("grp", args.group_col)
    # collect the languages-sized plan ONCE; the parquet write re-uses
    # the collected rows instead of re-running the corpus token
    # aggregate a second time
    rows = plan.orderBy(args.group_col).collect()
    if args.out:
        spark.createDataFrame(rows, plan.schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(args.out)
    for r in rows:
        print(json.dumps(r.asDict()))
    return 0


def cmd_psi(args: argparse.Namespace) -> int:
    """PSI score-drift monitor (plans/monitor.py): compare a current
    corpus slice against a reference on a score column (or the
    deterministic text-proxy score) and print per-bucket contributions
    + the PSI. Complements the column-profile `drift` verb: `drift`
    gates SCHEMA/statistics shape, `psi` gates a score DISTRIBUTION."""
    from .plans.monitor import (
        psi_against_baseline,
        read_drift_baseline,
        score_drift_psi,
        write_drift_baseline,
    )

    spark = _spark("psi")

    def load(path: str):
        df = spark.read.parquet(path)
        if args.score_col in df.columns:
            return df.select(F.col(args.score_col).alias("score"))
        if args.text_col in df.columns:
            from .plans.sampling import proxy_perplexity_score

            return df.select(
                proxy_perplexity_score(args.text_col).alias("score")
            )
        raise SystemExit(
            f"psi: {path} has neither '{args.score_col}' nor "
            f"'{args.text_col}' columns"
        )

    if args.baseline_out and (args.against or args.baseline):
        raise SystemExit(
            "psi: --baseline-out builds a baseline from --input and "
            "runs NO comparison — drop --against/--baseline or run them "
            "as a second invocation"
        )
    if args.baseline and args.buckets != 10:
        raise SystemExit(
            "psi: --buckets has no effect with --baseline (the stored "
            "spine fixes the bucket count) — rebuild the baseline with "
            "the desired --buckets instead"
        )
    if args.baseline and args.against:
        raise SystemExit("psi: pass either --against or --baseline, not both")
    if args.baseline_out:
        if args.grow:
            # growth mode (r11 verdict item 9): additive union+sum fold
            # into the EXISTING baseline — locked, batch-id fenced,
            # never a reference rescan
            from .plans.monitor import fold_drift_baseline

            out = fold_drift_baseline(
                load(args.input), args.baseline_out, batch_id=args.batch_id
            )
            print(json.dumps({"baseline": args.baseline_out, **out}))
            return 0
        # build mode: persist the reference population once
        write_drift_baseline(
            load(args.input), args.baseline_out, n_buckets=args.buckets
        )
        print(json.dumps({"baseline": args.baseline_out, "buckets": args.buckets}))
        return 0
    if args.grow:
        raise SystemExit("psi: --grow needs --baseline-out (the store to fold into)")
    if args.baseline:
        out = psi_against_baseline(
            load(args.input), read_drift_baseline(spark, args.baseline)
        ).collect()
    else:
        if not args.against:
            raise SystemExit("psi: need --against, --baseline, or --baseline-out")
        out = score_drift_psi(
            load(args.input), load(args.against), n_buckets=args.buckets
        ).collect()
    psi = sum(r.psi_int for r in out) / 1e6
    for r in out:
        print(json.dumps(r.asDict()))
    verdict = "stable" if psi < 0.1 else ("moderate" if psi <= 0.25 else "ALERT")
    print(json.dumps({"psi": round(psi, 6), "verdict": verdict}))
    return 0


def cmd_privacy(args: argparse.Namespace) -> int:
    """k-anonymity / l-diversity audit (plans/privacy.py): report
    per-equivalence-class sizes and violation counts; --suppress writes
    a release with quasi-identifiers NULLed for sub-k classes."""
    from .plans.privacy import k_anonymity_audit, suppress_small_classes

    spark = _spark("privacy")
    df = spark.read.parquet(args.input)
    quasi = [c.strip() for c in args.quasi.split(",") if c.strip()]
    audit = k_anonymity_audit(df, quasi, args.sensitive, k=args.k, l_div=args.l)
    if args.audit_out:
        audit.write.mode("overwrite").parquet(args.audit_out)
    summary = audit.agg(
        F.count("*").alias("classes"),
        F.sum("k_violation").alias("k_violations"),
        F.sum("l_violation").alias("l_violations"),
        F.sum(F.col("class_size") * F.col("k_violation")).alias("rows_at_risk"),
    ).collect()[0]
    if args.suppress:
        if not args.out:
            raise SystemExit("privacy: --suppress needs --out")
        suppress_small_classes(df, quasi, k=args.k).write.mode(
            "overwrite"
        ).parquet(args.out)
    print(json.dumps({"k": args.k, "l": args.l, **summary.asDict(),
                      **({"out": args.out} if args.suppress else {})}))
    return 0


def cmd_hll(args: argparse.Namespace) -> int:
    """Mergeable HLL distinct tracker (plans/hll.py): fold a batch's
    registers into a persisted store and print the running estimate —
    O(256) per batch, never a corpus rescan."""
    from .plans.hll import (
        fold_into_hll_store,
        hll_estimate,
        hll_registers,
        read_hll_store,
    )

    spark = _spark("hll")
    if args.input:
        df = spark.read.parquet(args.input).select(
            F.col(args.col).alias("item")
        )
        if args.explode_words:
            from .functions.text import clean_words

            df = df.select(F.explode(clean_words("item")).alias("item"))
        fold_into_hll_store(spark, hll_registers(df, "item"), args.store)
    est = hll_estimate(read_hll_store(spark, args.store))
    print(json.dumps({"store": args.store, "distinct_estimate": int(round(est))}))
    return 0


def cmd_doremi(args: argparse.Namespace) -> int:
    """DoReMi-style domain mixture weights (plans/doremi.py): one-shot
    excess-loss reweighting; writes/prints (domain, weight) rows that
    feed `cli curate` / apply_mixture_plan."""
    from .plans.doremi import doremi_domain_weights

    spark = _spark("doremi")
    docs = spark.read.parquet(args.input).select(
        F.col(args.domain_col).alias(args.domain_col),
        F.col(args.text_col).alias("text"),
    )
    out = doremi_domain_weights(
        docs, domain_col=args.domain_col, eta=args.eta, smoothing=args.smoothing
    )
    if args.out:
        out.write.mode("overwrite").parquet(args.out)
        print(json.dumps({"out": args.out, "domains": out.count()}))
    else:
        for r in out.orderBy("domain").collect():
            print(json.dumps(r.asDict()))
    return 0


def cmd_ivf(args: argparse.Namespace) -> int:
    """Persisted IVF ANN index (plans/mllib_ops.py): --build fits the
    quantizer and writes the cell-partitioned layout, --append assigns
    a batch to the fixed centroids at O(batch), --query searches the
    probed cells only (partition-level pruning; --fraction prints the
    files-read receipt)."""
    from .plans.mllib_ops import (
        append_ivf_index,
        ivf_scan_fraction,
        search_ivf_index,
        write_ivf_index,
    )

    spark = _spark("ivf")
    if args.build:
        emb = spark.read.parquet(args.build).selectExpr(
            f"{args.id_col} AS vec_id", f"{args.vec_col} AS embedding"
        )
        print(json.dumps({"path": args.path, **write_ivf_index(emb, args.path, k=args.k)}))
        return 0
    if args.append:
        emb = spark.read.parquet(args.append).selectExpr(
            f"{args.id_col} AS vec_id", f"{args.vec_col} AS embedding"
        )
        print(json.dumps({"path": args.path, **append_ivf_index(emb, args.path)}))
        return 0
    if not args.query:
        raise SystemExit("ivf: need --build, --append, or --query")
    queries = spark.read.parquet(args.query).selectExpr(
        f"{args.id_col} AS qid", f"CAST({args.vec_col} AS array<double>) AS v"
    )
    if args.fraction:
        print(json.dumps(ivf_scan_fraction(spark, args.path, queries, args.nprobe)))
        return 0
    out = search_ivf_index(
        spark, args.path, queries, nprobe=args.nprobe, k_neighbors=args.topk,
        exclude_self=args.exclude_self,
    )
    if args.out:
        out.write.mode("overwrite").parquet(args.out)
        print(json.dumps({"out": args.out, "rows": out.count()}))
    else:
        for r in out.orderBy("qid", "rnk").collect():
            print(json.dumps(r.asDict()))
    return 0


def cmd_release_gate(args: argparse.Namespace) -> int:
    """Release gate (pipeline/release.py): run the configured audits —
    split leakage, benchmark decontamination, k-anonymity, PSI drift —
    over a release candidate and exit nonzero on ANY failure (the
    CI-able export guard)."""
    from .pipeline.release import release_gate

    spark = _spark("release-gate")
    docs = spark.read.parquet(args.input)
    report = release_gate(
        spark,
        docs,
        splits=(spark.read.parquet(args.splits) if args.splits else None),
        probe=(
            spark.read.parquet(args.probe).selectExpr("doc_id", "text")
            if args.probe
            else None
        ),
        decontam_fuzzy_mode=args.fuzzy,
        quasi_cols=(
            [c for c in args.quasi.split(",") if c] if args.quasi else None
        ),
        sensitive_col=args.sensitive,
        k=args.k,
        psi_baseline_path=args.psi_baseline,
        score_col=args.score_col,
        psi_threshold=args.psi_threshold,
    )
    print(json.dumps(report))
    return 0 if report["pass"] else 1


def cmd_bpe(args: argparse.Namespace) -> int:
    """BPE tokenizer training (plans/tokenize.py): learn merges from a
    corpus; optionally write per-document token counts under the
    trained tokenizer."""
    from .plans.tokenize import bpe_token_counts, bpe_train

    spark = _spark("bpe")
    df = spark.read.parquet(args.input)
    merges, _words = bpe_train(
        df,
        text_col=args.text_col,
        n_merges=args.merges,
        min_pair_count=args.min_pair_count,
    )
    mdf = spark.createDataFrame(
        [(i, l, r, c) for i, (l, r, c) in enumerate(merges)],
        "rank long, left string, right string, pair_count long",
    )
    mdf.coalesce(1).write.mode("overwrite").parquet(args.merges_out)
    stats = {"merges_out": args.merges_out, "merges": len(merges)}
    if args.counts_out:
        bpe_token_counts(
            df, merges, text_col=args.text_col, id_col=args.id_col
        ).write.mode("overwrite").parquet(args.counts_out)
        stats["counts_out"] = args.counts_out
    print(json.dumps(stats))
    return 0


def cmd_lm_score(args: argparse.Namespace) -> int:
    """Bigram-LM perplexity scoring (plans/lm.py): train on the corpus,
    score every document; optionally bucket-sample (CCNet shape)."""
    from .plans.lm import lm_perplexity_buckets, score_bigram_nll, train_bigram_lm

    spark = _spark("lm-score")
    df = spark.read.parquet(args.input)
    if args.keep_rates:
        rates = [float(r) for r in args.keep_rates.split(",")]
        out = lm_perplexity_buckets(
            df,
            n_buckets=len(rates),
            keep_rates=rates,
            text_col=args.text_col,
            id_col=args.id_col,
        )
    else:
        big, ctx, v = train_bigram_lm(df, args.text_col)
        out = score_bigram_nll(
            df, big, ctx, v, text_col=args.text_col, id_col=args.id_col
        )
    out.write.mode("overwrite").parquet(args.out)
    print(json.dumps({"out": args.out, "rows": out.count()}))
    return 0


def cmd_rewrite_dups(args: argparse.Namespace) -> int:
    """Exact-substring dedup REMOVAL (plans/dedup.py::remove_dup_spans,
    the Lee et al. rewrite step): excise corpus-duplicated word n-gram
    occurrences from every document, keeping one canonical copy."""
    from pyspark.sql import functions as F

    from .plans.dedup import remove_dup_spans

    spark = _spark("rewrite-dups")
    docs = spark.read.parquet(args.input)
    for c in (args.id_col, args.text_col):
        if c not in docs.columns:
            raise SystemExit(f"rewrite-dups: input must have a '{c}' column")
    docs = docs.select(
        F.col(args.id_col).alias("doc_id"), F.col(args.text_col).alias("text")
    )
    out = remove_dup_spans(docs, n=args.ngram)
    if args.drop_empty:
        out = out.filter(F.col("kept_text") != "")
    out.write.mode("overwrite").parquet(args.out)
    stats = out.agg(
        F.count("*").alias("docs_out"),
        F.sum("n_words").alias("words_in"),
        F.sum("n_removed").alias("words_removed"),
    ).collect()[0]
    print(json.dumps({"out": args.out, **stats.asDict()}))
    return 0


def cmd_line_dedup(args: argparse.Namespace) -> int:
    """CCNet cross-document line dedup (plans/dedup.py::line_dedup):
    keep one corpus-wide occurrence per normalized line (Wenzek et al.
    2020), or purge every occurrence of lines shared by >= --min-docs
    documents (RefinedWeb-style boilerplate removal)."""
    from pyspark.sql import functions as F

    from .plans.dedup import line_dedup

    spark = _spark("line-dedup")
    docs = spark.read.parquet(args.input)
    for c in (args.id_col, args.text_col):
        if c not in docs.columns:
            raise SystemExit(f"line-dedup: input must have a '{c}' column")
    mode = "frequent" if args.min_docs else "keep_first"
    out = line_dedup(
        docs.select(
            F.col(args.id_col).alias("doc_id"),
            F.col(args.text_col).alias("text"),
        ),
        mode=mode,
        min_docs=args.min_docs,
    )
    if args.drop_empty:
        out = out.filter(F.col("clean_text") != "")
    out.write.mode("overwrite").parquet(args.out)
    stats = out.agg(
        F.count("*").alias("docs_out"),
        F.sum("n_lines").alias("lines_in"),
        F.sum("n_kept_lines").alias("lines_kept"),
    ).collect()[0]
    print(json.dumps({"out": args.out, "mode": mode, **stats.asDict()}))
    return 0


def cmd_dsir(args: argparse.Namespace) -> int:
    """DSIR importance resampling (plans/dsir.py): select the raw
    documents most like a target domain via hashed-ngram log-ratio
    weights + seeded Gumbel-top-k."""
    from pyspark.sql import functions as F

    from . import cache
    from .plans.dsir import (
        doc_features,
        dsir_resample_topk,
        dsir_scores,
        dsir_weights,
    )

    spark = _spark("dsir")
    raw = spark.read.parquet(args.input).select(
        F.col(args.id_col).alias("doc_id"), F.col(args.text_col).alias("text")
    )
    if args.weights:
        # Stored-weights fast path: score + select this batch at
        # O(batch); the reference corpora are never touched.
        from .plans.dsir import dsir_select_batch, read_dsir_weights

        w = read_dsir_weights(spark, args.weights)
        picked = dsir_select_batch(raw, w, k=args.k, seed=args.seed)
        picked.write.mode("overwrite").parquet(args.out)
        print(json.dumps({"out": args.out, "selected": picked.count(), "k": args.k}))
        return 0
    cache.begin_plan()
    if args.target:
        # Separate target corpus: the paper's q is the RAW distribution
        # alone and p the target distribution alone — never a union
        # (union counting shrinks log-ratios for target-distinctive
        # buckets because target features would inflate q too).
        # Overlapping doc_ids are harmless here: each side counts only
        # its own featurization (see dsir_weights_paired docstring).
        from .plans.dsir import dsir_weights_paired

        tgt = spark.read.parquet(args.target).select(
            F.col(args.id_col).alias("doc_id"), F.col(args.text_col).alias("text")
        )
        feats = cache.pin(doc_features(raw))
        weights = dsir_weights_paired(feats, doc_features(tgt))
    elif args.target_where:
        # Target is a subset of the raw corpus named by a predicate
        # (e.g. "source = 'wiki'"); those docs ARE raw-pool members, so
        # the paper's q (raw distribution) genuinely includes them.
        feats = cache.pin(doc_features(raw))
        target_ids = (
            spark.read.parquet(args.input)
            .filter(args.target_where)
            .select(F.col(args.id_col).alias("doc_id"))
        )
        weights = dsir_weights(feats, target_ids)
    else:
        raise SystemExit("dsir: pass --target PARQUET or --target-where PREDICATE")
    if args.weights_out:
        from .plans.dsir import write_dsir_weights

        write_dsir_weights(weights, args.weights_out)
        weights = spark.read.parquet(args.weights_out)
    # feats is the raw featurization in both estimation paths; the
    # weight join inside dsir_scores is left+0-fill, so raw buckets a
    # foreign/paired weight table lacks score as ~0 (unbiased).
    scored = dsir_scores(raw, weights, feats=feats)
    picked = dsir_resample_topk(scored, k=args.k, seed=args.seed)
    picked.write.mode("overwrite").parquet(args.out)
    stats = {"out": args.out, "selected": picked.count(), "k": args.k}
    if args.weights_out:
        stats["weights_out"] = args.weights_out
    print(json.dumps(stats))
    return 0


def cmd_quality_model(args: argparse.Namespace) -> int:
    """Classifier-based quality filtering (plans/quality_model.py, the
    GPT-3 recipe): train an MLlib LR on a labeled parquet, score the
    input corpus, optionally apply the seeded Pareto acceptance filter."""
    from pyspark.sql import functions as F

    from .plans.quality_model import (
        pareto_keep,
        score_quality,
        train_quality_classifier,
    )

    spark = _spark("quality-model")
    if args.model:
        from .plans.quality_model import load_quality_model

        model = load_quality_model(args.model)
    else:
        if not args.labeled:
            raise SystemExit("quality-model: pass --labeled to train or --model to reload")
        labeled = spark.read.parquet(args.labeled)
        for c in (args.label_col, args.text_col):
            if c not in labeled.columns:
                raise SystemExit(f"quality-model: labeled set needs a '{c}' column")
        model = train_quality_classifier(
            labeled, label_col=args.label_col, text_col=args.text_col
        )
        if args.model_out:
            from .plans.quality_model import save_quality_model

            save_quality_model(model, args.model_out)
    docs = spark.read.parquet(args.input)
    scored = score_quality(model, docs, text_col=args.text_col)
    if args.filter:
        scored = scored.withColumn(
            "kept",
            pareto_keep(
                "quality_score", args.id_col, alpha=args.alpha, seed=args.seed
            ),
        )
        out = scored.filter("kept").drop("kept") if args.keep_only else scored
    else:
        out = scored
    out.write.mode("overwrite").parquet(args.out)
    stats = {"out": args.out, "rows": out.count()}
    print(json.dumps(stats))
    return 0


def cmd_embed_filter(args: argparse.Namespace) -> int:
    """Embedding outlier filtering (plans/embedding_quality.py): flag or
    drop vectors outside the corpus distribution before they poison ANN
    indexes / SemDeDup cells."""
    from pyspark.sql import functions as F

    from .plans.embedding_quality import embedding_outliers

    spark = _spark("embed-filter")
    emb = spark.read.parquet(args.input)
    for c in (args.id_col, args.vec_col):
        if c not in emb.columns:
            raise SystemExit(f"embed-filter: input must have a '{c}' column")
    vecs = emb.select(
        F.col(args.id_col).alias("vec_id"),
        F.col(args.vec_col).cast("array<double>").alias("v"),
    )
    out = embedding_outliers(
        vecs,
        k=args.cells,
        z_threshold=args.z_threshold,
        min_cell=args.min_cell,
    )
    if args.keep_only:
        out = out.filter("NOT is_outlier")
    out.write.mode("overwrite").parquet(args.out)
    stats = out.agg(
        F.count("*").alias("rows"),
        F.sum(F.col("is_outlier").cast("int")).alias("outliers"),
    ).collect()[0]
    print(json.dumps({"out": args.out, **stats.asDict()}))
    return 0


def cmd_phash(args: argparse.Namespace) -> int:
    """Perceptual-hash near-dup pairs over a binary-payload parquet
    (operators/multimodal.py::perceptual_hash + plans/multimodal_queries
    .phash_pairs). --fake-decode drives the deterministic stand-in; the
    real arm needs PIL on executors."""
    from pyspark.sql import functions as F

    from .operators.multimodal import perceptual_hash
    from .plans.multimodal_queries import phash_pairs

    spark = _spark("phash")
    media = spark.read.parquet(args.input)
    for c in (args.id_col, args.payload_col):
        if c not in media.columns:
            raise SystemExit(f"phash: input must have a '{c}' column")
    media = media.select(
        F.col(args.id_col).alias("doc_id"),
        F.col(args.payload_col).cast("binary").alias("payload"),
    )
    hashes = perceptual_hash(media, fake_decode=args.fake_decode)
    pairs = phash_pairs(
        hashes, max_hamming=args.max_hamming, bucket_cap=args.bucket_cap
    )
    pairs.write.mode("overwrite").parquet(args.out)
    print(json.dumps({"out": args.out, "pairs": pairs.count()}))
    return 0


def cmd_ingest_warc(args: argparse.Namespace) -> int:
    """Web-corpus front door (sources/warc.py + operators/html_text.py):
    WARC(.gz) responses → extracted text → documents-shaped parquet
    (doc_id, url, title, text, n_links, link_density, text_chars) ready
    for the curation funnel. --max-link-density drops boilerplate-heavy
    pages (nav/menu/link farms) at ingest. The plan itself lives in
    plans/web.py::ingest_warc_plan, shared with the web_ingest_warc
    bench row so the measured path IS the shipped path."""
    from .plans.web import ingest_warc_plan

    if args.main_content and args.max_link_density is not None:
        # reject at the CLI layer, before a Spark session spins up —
        # the plan-level refusal stays as the API guard
        raise SystemExit(
            "ingest-warc: --max-link-density is a page-level gate; "
            "--main-content already removes linky blocks — pass one "
            "or the other"
        )
    if args.main_content_lang and not args.main_content:
        raise SystemExit(
            "ingest-warc: --main-content-lang only applies with "
            "--main-content"
        )
    if args.wet and (args.main_content or args.max_link_density is not None):
        raise SystemExit(
            "ingest-warc: --wet payloads are already extracted text — "
            "--main-content/--max-link-density are HTML gates; drop them"
        )
    if bool(args.input) == bool(args.ranges):
        raise SystemExit(
            "ingest-warc: pass exactly one of --input (whole files) or "
            "--ranges (cdx-plan fetch manifest)"
        )
    spark = _spark("ingest-warc")
    if args.ranges:
        from .plans.web import ingest_warc_records, ingest_wet_records
        from .sources.warc import read_warc_ranges

        records = read_warc_ranges(
            spark, spark.read.parquet(args.ranges),
            base_dir=args.ranges_base,
        )
        if args.wet:
            out = ingest_wet_records(
                records,
                content_type=(
                    "text/plain"
                    if args.content_type == "text/html"
                    else (args.content_type or None)
                ),
                dedup_url=args.dedup_url,
                normalize_urls=args.normalize_urls,
            )
        else:
            out = ingest_warc_records(
                records,
                content_type=args.content_type or None,
                max_link_density=args.max_link_density,
                dedup_url=args.dedup_url,
                normalize_urls=args.normalize_urls,
                main_content=args.main_content,
                main_content_lang=args.main_content_lang,
            )
    else:
        out = ingest_warc_plan(
            spark,
            args.input,
            content_type=args.content_type or None,
            max_link_density=args.max_link_density,
            dedup_url=args.dedup_url,
            normalize_urls=args.normalize_urls,
            main_content=args.main_content,
            main_content_lang=args.main_content_lang,
            wet=args.wet,
        )
    out.write.mode("overwrite").parquet(args.out)
    n = spark.read.parquet(args.out).count()
    print(json.dumps({"out": args.out, "docs": n}))
    return 0


def cmd_domain_stats(args: argparse.Namespace) -> int:
    """Per-domain census over an INGESTED corpus (r14, VERDICT r13 #5):
    the same host/registrable-domain expressions `web_domain_stats`
    hash-checks on synthesized URLs, run over real `ingest-warc` output
    (composes with --normalize-urls output unchanged — the url column
    is already canonical there). One hash aggregate; prints the top-N
    domains by doc count as JSON lines plus a summary, and optionally
    writes the full census parquet."""
    from .plans.web import domain_census

    spark = _spark("domain-stats")
    df = spark.read.parquet(args.path)
    if args.url_col not in df.columns:
        raise SystemExit(
            f"domain-stats: {args.path} has no '{args.url_col}' column "
            f"(have {df.columns}); pass --url-col"
        )
    census = domain_census(df, url_col=args.url_col)
    if args.out:
        census.write.mode("overwrite").parquet(args.out)
        census = spark.read.parquet(args.out)  # reuse, don't recompute
    top = census.orderBy(
        F.desc("n_docs"), F.desc("total_chars"), "domain"
    ).limit(args.top).collect()
    for r in top:
        print(json.dumps(r.asDict()))
    print(
        json.dumps(
            {
                "path": args.path,
                "out": args.out,
                "n_domains": census.count(),
                "n_docs": int(
                    (census.agg(F.sum("n_docs")).collect()[0][0]) or 0
                ),
            }
        )
    )
    return 0


def cmd_cdx_plan(args: argparse.Namespace) -> int:
    """Ingestion PLANNING over a CDX(J) capture index (r14): filter the
    index (status/mime/registrable domains), optionally keep only the
    LATEST capture per URL, and write the fetch manifest — (url, host,
    filename, offset, length, ts) — that tells a downstream fetcher
    exactly which WARC files/byte-ranges to pull. This is how a 100 TB
    crawl is ingested selectively: the index is ~1/1000th the crawl's
    size, so plan-then-fetch beats scan-everything by the selectivity
    of the filters. Scan-bound JVM parse (`sources/cdx.py`); the
    per-URL latest pick is ONE struct-max aggregate, no window sort."""
    from .functions.url import url_registrable_domain
    from .sources.cdx import read_cdxj

    spark = _spark("cdx-plan")
    idx = read_cdxj(spark, args.input)
    if args.status is not None and args.status >= 0:  # -1 keeps all
        idx = idx.filter(F.col("status") == args.status)
    if args.mime:
        idx = idx.filter(F.lower(F.col("mime")).startswith(args.mime.lower()))
    if args.domains:
        doms = [d.strip().lower() for d in args.domains.split(",") if d.strip()]
        idx = idx.filter(url_registrable_domain(F.col("host")).isin(doms))
    plan = idx.select(
        "url", "host", "filename", "offset", "length", "ts", "digest"
    )
    if args.exclude_docs:
        # incremental crawl ingestion: drop captures whose URL the
        # corpus already holds — a LeftAnti on url (the index side is
        # tiny next to a 100 TB crawl, but the DOCS side can be huge;
        # anti-join shuffles only the two url column sets). The
        # manifest keeps the RAW capture url either way (the fetcher
        # needs the exact index coordinates); --normalize-urls only
        # changes the JOIN KEY: a corpus ingested with ingest-warc
        # --normalize-urls stores normalized urls, so raw CDX urls
        # would never match and every already-held capture would be
        # silently re-planned (ADVICE r14) — pass the SAME flag here
        # that the corpus ingest used.
        from .functions.url import url_normalize

        have = spark.read.parquet(args.exclude_docs).select("url").distinct()
        if args.normalize_urls:
            key = url_normalize(F.col("url")).alias("__k")
            plan = plan.withColumn("__k", key).join(
                have.select(key), "__k", "left_anti"
            ).drop("__k")
        else:
            plan = plan.join(have, "url", "left_anti")
    if args.dedup_digest:
        # the index's content digest (sha1 of the payload) identifies
        # byte-identical captures ACROSS urls — dedup here means those
        # bytes are fetched once instead of once per mirror. Null
        # digests self-key on (filename, offset) — the capture's
        # identity — so NO two unknown-content captures ever collapse
        # (a url selfkey would still merge same-url null-digest rows);
        # one struct-max exchange, no window.
        selfkey = F.when(
            F.col("digest").isNull() | (F.col("digest") == ""),
            F.concat_ws("#", "filename", F.col("offset").cast("string")),
        ).otherwise(F.lit(""))
        keep = F.max(
            F.struct("ts", "url", "host", "filename", "offset", "length")
        ).alias("k")
        plan = (
            plan.groupBy("digest", selfkey.alias("__selfkey")).agg(keep)
            .select(
                F.col("k.url").alias("url"),
                F.col("k.host").alias("host"),
                F.col("k.filename").alias("filename"),
                F.col("k.offset").alias("offset"),
                F.col("k.length").alias("length"),
                F.col("k.ts").alias("ts"),
                "digest",
            )
        )
    if args.latest:
        # one hash exchange: max(struct(ts, ...)) per url — the W2 rule
        # (never a per-URL window sort); ties break on the struct tail
        keep = F.max(
            F.struct("ts", "filename", "offset", "length", "host", "digest")
        ).alias("k")
        plan = (
            plan.groupBy("url").agg(keep)
            .select(
                "url", F.col("k.host").alias("host"),
                F.col("k.filename").alias("filename"),
                F.col("k.offset").alias("offset"),
                F.col("k.length").alias("length"),
                F.col("k.ts").alias("ts"),
                F.col("k.digest").alias("digest"),
            )
        )
    plan.write.mode("overwrite").parquet(args.out)
    back = spark.read.parquet(args.out)
    agg = back.agg(
        F.count("*").alias("n"),
        F.countDistinct("filename").alias("nf"),
        F.sum("length").alias("b"),
    ).collect()[0]
    print(
        json.dumps(
            {
                "out": args.out,
                "captures": int(agg["n"]),
                "warc_files": int(agg["nf"]),
                "bytes_to_fetch": int(agg["b"] or 0),
            }
        )
    )
    return 0


def cmd_wat_links(args: argparse.Namespace) -> int:
    """Outlink extraction from WAT metadata sidecars (r14): WARC
    metadata records → (src, dst) edges via `plans/web.py::
    wat_outlinks` (pure JVM JSON-path extraction — no HTML re-parse),
    optionally collapsed to the registrable-domain link graph
    (src_domain, dst_domain, n_links) that PageRank/link-farm analyses
    consume. Writes parquet + a JSON summary."""
    from .functions.url import url_host, url_registrable_domain
    from .plans.web import wat_outlinks
    from .sources.warc import read_warc

    spark = _spark("wat-links")
    records = read_warc(spark, args.input, record_types=("metadata",))
    edges = wat_outlinks(records, normalize_urls=not args.no_normalize)
    if args.domain_graph:
        edges = (
            edges.select(
                url_registrable_domain(url_host(F.col("src"))).alias(
                    "src_domain"
                ),
                url_registrable_domain(url_host(F.col("dst"))).alias(
                    "dst_domain"
                ),
            )
            .groupBy("src_domain", "dst_domain")
            .agg(F.count("*").cast("long").alias("n_links"))
        )
    edges.write.mode("overwrite").parquet(args.out)
    n = spark.read.parquet(args.out).count()
    print(json.dumps({"out": args.out, "edges": n}))
    return 0


def cmd_robots_filter(args: argparse.Namespace) -> int:
    """Crawl-compliance annotation (r14): parse a robots.txt WARC
    subset (Common Crawl ships one per crawl) into rules, then annotate
    an ingested documents corpus with `robots_disallowed` verdicts for
    --agent (`operators/robots.py` — JVM join + longest-match argmax).
    --drop writes only the allowed rows instead of annotating."""
    from .operators.robots import parse_robots_rules, robots_filter
    from .sources.warc import read_warc

    spark = _spark("robots-filter")
    docs = spark.read.parquet(args.docs)
    if "url" not in docs.columns:
        raise SystemExit(
            f"robots-filter: {args.docs} has no 'url' column "
            f"(have {docs.columns})"
        )
    recs = read_warc(spark, args.robots).filter(
        (F.col("http_status") == 200) & F.col("undecoded_coding").isNull()
    )
    rules = parse_robots_rules(recs)
    out = robots_filter(docs, rules, agent=args.agent)
    if args.drop:
        out = out.filter(~F.col("robots_disallowed")).drop(
            "robots_disallowed"
        )
    out.write.mode("overwrite").parquet(args.out)
    back = spark.read.parquet(args.out)
    n_out = back.count()
    n_dis = (
        0
        if args.drop
        else back.filter(F.col("robots_disallowed")).count()
    )
    print(
        json.dumps(
            {
                "out": args.out,
                "docs": n_out,
                "disallowed": (docs.count() - n_out) if args.drop else n_dis,
                "dropped": bool(args.drop),
            }
        )
    )
    return 0


def cmd_delta_log(args: argparse.Namespace) -> int:
    """Delta transaction-log bridge (pipeline/delta_log.py): --sync
    converges the table's _delta_log to the repo manifest's live file
    set (one add/remove commit, so external Delta readers consume
    repo-maintained tables); --show replays the log and prints the
    snapshot summary. Both run WITHOUT delta-spark."""
    from .pipeline.delta_log import (
        enable_auto_delta_sync,
        read_delta_snapshot,
        sync_delta_log_from_manifest,
    )

    spark = _spark("delta-log")
    if args.enable_auto_sync:
        out = enable_auto_delta_sync(spark, args.path)
        print(json.dumps({"path": args.path, "auto_sync": True, **out}))
        return 0
    if args.sync:
        out = sync_delta_log_from_manifest(spark, args.path)
        print(json.dumps({"path": args.path, **out}))
        return 0
    snap = read_delta_snapshot(spark, args.path)
    print(
        json.dumps(
            {
                "path": args.path,
                "version": snap["version"],
                "n_files": len(snap["files"]),
                "bytes": sum(m["size"] for m in snap["files"].values()),
                "any_dv": any(m["dv"] for m in snap["files"].values()),
                "configuration": snap["configuration"],
            }
        )
    )
    return 0


def cmd_matview(args: argparse.Namespace) -> int:
    """Incremental materialized views (pipeline/matview.py): create,
    refresh (cost ∝ new base files), rebuild, read."""
    from .pipeline.matview import (
        create_matview,
        read_matview,
        rebuild_matview,
        refresh_matview,
    )

    spark = _spark("matview")
    if args.create:
        if not args.base or not args.group or not args.metrics:
            raise SystemExit("matview: --create needs --base/--group/--metrics")
        quantile_cols = None
        if args.quantiles:
            quantile_cols = {}
            for spec in args.quantiles.split(","):
                col, lo, hi = spec.rsplit(":", 2)
                quantile_cols[col] = (float(lo), float(hi))
        stats = create_matview(
            spark,
            args.base,
            args.path,
            args.group.split(","),
            args.metrics.split(","),
            time_col=args.time_col,
            grain=args.grain,
            distinct_cols=args.distinct.split(",") if args.distinct else None,
            quantile_cols=quantile_cols,
            n_bins=args.n_bins,
        )
        print(json.dumps({"path": args.path, **stats}))
        return 0
    if args.refresh:
        stats = refresh_matview(
            spark, args.path, on_base_mutation=args.on_base_mutation
        )
        print(json.dumps({"path": args.path, **stats}))
        return 0
    if args.rebuild:
        stats = rebuild_matview(spark, args.path)
        print(json.dumps({"path": args.path, **stats}))
        return 0
    for r in read_matview(spark, args.path).collect():
        print(json.dumps(r.asDict(), default=str))
    return 0


def cmd_merge(args: argparse.Namespace) -> int:
    """File-level copy-on-write MERGE INTO (pipeline/merge.py): replace
    matched keys, insert unmatched, rewriting only touched data files."""
    from .pipeline.merge import merge_into

    spark = _spark("merge")
    updates = spark.read.parquet(args.updates)
    stats = merge_into(
        spark,
        args.path,
        updates,
        key=args.key.split(","),
        partition_by=args.partition_by.split(",") if args.partition_by else None,
        allow_new_columns=args.allow_new_columns,
        stale_lock_s=args.stale_lock_s,
    )
    print(json.dumps({"path": args.path, **stats}))
    return 0


def cmd_insert(args: argparse.Namespace) -> int:
    """Journaled INSERT (pipeline/merge.py::insert_into): append rows
    as new files through the same crash-safe commit as merge/delete/
    update — manifest delta, stats, and history included."""
    from .pipeline.merge import insert_into

    spark = _spark("insert")
    rows = spark.read.parquet(args.rows)
    stats = insert_into(
        spark,
        args.path,
        rows,
        partition_by=args.partition_by.split(",") if args.partition_by else None,
        stale_lock_s=args.stale_lock_s,
    )
    print(json.dumps({"path": args.path, **stats}))
    return 0


def cmd_shards(args: argparse.Namespace) -> int:
    """Deterministic shuffled shard export (plans/sampling.py): seeded
    md5 permutation, shard=N Hive dirs, one file per shard, byte-stable
    re-exports."""
    from .plans.sampling import export_shards

    spark = _spark("shards")
    df = spark.read.parquet(args.input)
    if args.id_col not in df.columns:
        raise SystemExit(f"shards: --id-col {args.id_col!r} not in input")
    if args.format == "webdataset":
        from .pipeline.webdataset import export_webdataset

        meta = [c for c in (args.meta_cols or "").split(",") if c]
        report = export_webdataset(
            df,
            args.out,
            n_shards=args.n_shards,
            id_col=args.id_col,
            text_col=args.text_col,
            meta_cols=meta,
            shard_seed=args.seed,
            order_seed=args.seed + ":order",
        )
        print(
            json.dumps(
                {
                    "out": args.out,
                    "format": "webdataset",
                    "n_shards": args.n_shards,
                    "rows": sum(r["n_samples"] for r in report),
                    "bytes": sum(r["bytes"] for r in report),
                }
            )
        )
        return 0
    if args.format == "tfrecord":
        from .pipeline.tfrecord import export_tfrecord

        feats = [c for c in (args.feature_cols or "").split(",") if c] or None
        report = export_tfrecord(
            df,
            args.out,
            n_shards=args.n_shards,
            id_col=args.id_col,
            feature_cols=feats,
            shard_seed=args.seed,
            order_seed=args.seed + ":order",
        )
        print(
            json.dumps(
                {
                    "out": args.out,
                    "format": "tfrecord",
                    "n_shards": args.n_shards,
                    "rows": sum(r["n_records"] for r in report),
                    "bytes": sum(r["bytes"] for r in report),
                }
            )
        )
        return 0
    export_shards(
        df,
        args.out,
        n_shards=args.n_shards,
        id_col=args.id_col,
        shard_seed=args.seed,
        order_seed=args.seed + ":order",
    )
    n = spark.read.parquet(args.out).count()
    print(json.dumps({"out": args.out, "n_shards": args.n_shards, "rows": n}))
    return 0


def cmd_expect(args: argparse.Namespace) -> int:
    """Declarative data-quality gate (plans/profile.py): named boolean
    rules from a JSON file ({"rule_name": "sql predicate", ...}),
    evaluated in ONE scan; --fail-on-violation makes a failing rule set
    exit non-zero — the Airflow ingest-gate shape."""
    from .plans.profile import check_expectations

    with open(args.rules) as fh:
        rules_doc = json.load(fh)
    if not isinstance(rules_doc, dict) or not all(
        isinstance(v, str) for v in rules_doc.values()
    ):
        raise SystemExit(
            'expect: --rules must be a JSON object {"rule_name": "sql predicate"}'
        )
    spark = _spark("expect")
    df = spark.read.parquet(args.path)
    rows = check_expectations(df, list(rules_doc.items())).collect()
    n_failed = 0
    for r in rows:
        print(json.dumps(r.asDict()))
        if not r["pass"]:
            n_failed += 1
    print(
        json.dumps(
            {"path": args.path, "rules": len(rows), "failed": n_failed}
        )
    )
    if args.fail_on_violation and n_failed:
        return 1
    return 0


def cmd_drift(args: argparse.Namespace) -> int:
    """Distribution-drift gate between two parquet datasets (or a
    dataset and yesterday's): sketch-profile both sides, compare with
    plans/profile.py::profile_drift, one JSON line per column;
    --fail-on-drift exits 1 if any column drifted."""
    from .plans.profile import (
        merge_profiles,
        profile_drift,
        profile_estimates,
        profile_frame_sketch,
    )

    spark = _spark("drift")

    def _estimates(path: str):
        df = spark.read.parquet(path)
        if args.columns:
            cols = args.columns.split(",")
            missing = [c for c in cols if c not in df.columns]
            if missing:
                raise SystemExit(f"drift: {path} lacks columns {missing}")
        else:
            from pyspark.sql import types as T

            cols = [
                f.name
                for f in df.schema.fields
                if not isinstance(
                    f.dataType,
                    (T.ArrayType, T.MapType, T.StructType, T.BinaryType),
                )
            ]
        if not cols:
            raise SystemExit(f"drift: no profilable columns in {path}")
        return profile_estimates(merge_profiles(profile_frame_sketch(df, cols)))

    report = profile_drift(
        _estimates(args.base),
        _estimates(args.current),
        null_rate_tol=args.null_rate_tol,
        distinct_ratio_tol=args.distinct_ratio_tol,
    ).collect()
    n_drifted = 0
    for r in sorted(report, key=lambda x: x["column_name"]):
        print(json.dumps(r.asDict()))
        if r["drifted"]:
            n_drifted += 1
    print(
        json.dumps(
            {"base": args.base, "current": args.current, "drifted": n_drifted}
        )
    )
    if args.fail_on_drift and n_drifted:
        return 1
    return 0


def cmd_curriculum(args: argparse.Namespace) -> int:
    """Curriculum ordering from the shell (plans/sampling.py::
    curriculum_plan): global easy→hard rank over a parquet dataset with
    an integer difficulty column; writes (doc_id, level,
    curriculum_rank) parquet and prints per-level rank spans."""
    from pyspark.sql import functions as F

    from .plans.sampling import curriculum_plan

    spark = _spark("curriculum")
    df = spark.read.parquet(args.path)
    for c in (args.id_col, args.level_col):
        if c not in df.columns:
            raise SystemExit(f"curriculum: input lacks column '{c}'")
    leveled = df.select(
        F.col(args.id_col).alias("doc_id"),
        F.col(args.level_col).cast("long").alias("level"),
    )
    out = curriculum_plan(leveled, seed=args.seed).persist()
    out.write.mode("overwrite").parquet(args.out)
    spans = (
        out.groupBy("level")
        .agg(
            F.count("*").alias("n"),
            F.min("curriculum_rank").alias("rank_lo"),
            F.max("curriculum_rank").alias("rank_hi"),
        )
        .orderBy("level")
        .collect()
    )
    out.unpersist()
    for r in spans:
        print(json.dumps(r.asDict()))
    return 0


def cmd_semdedup(args: argparse.Namespace) -> int:
    """Semantic dedup over an embeddings parquet (plans/mllib_ops.py::
    semdedup): k-means cluster blocking + within-cell cosine pairs +
    keep-farthest-from-centroid representatives. Prints summary counts;
    --out writes the per-vector (cell_id, centroid_sim, cluster_id,
    keep) assignment parquet."""
    from pyspark.sql import functions as F

    from .functions.vector import as_double
    from .plans.mllib_ops import semdedup

    spark = _spark("semdedup")
    emb = spark.read.parquet(args.path)
    for c in (args.id_col, args.vec_col):
        if c not in emb.columns:
            raise SystemExit(f"semdedup: input lacks column '{c}'")
    corpus = emb.select(
        F.col(args.id_col).alias("vec_id"),
        as_double(args.vec_col).alias("v"),
    )
    out = semdedup(
        corpus, k=args.k, threshold=args.threshold
    ).persist()
    if args.out:
        out.write.mode("overwrite").parquet(args.out)
    row = out.agg(
        F.count("*").alias("n_vectors"),
        F.sum(F.col("keep").cast("int")).alias("n_kept"),
        F.count("cluster_id").alias("n_clustered"),
        F.countDistinct("cluster_id").alias("n_groups"),
    ).collect()[0]
    out.unpersist()
    print(json.dumps({k: (int(v) if v is not None else 0) for k, v in row.asDict().items()}))
    return 0


def cmd_diff(args: argparse.Namespace) -> int:
    """Corpus version diff (plans/curation.py::corpus_diff): per-status
    counts between two parquet corpus versions as one JSON line;
    --out writes the per-key status parquet."""
    from pyspark.sql import functions as F

    from .plans.curation import corpus_diff

    spark = _spark("diff")
    old = spark.read.parquet(args.old)
    new = spark.read.parquet(args.new)
    for side, df in (("--old", old), ("--new", new)):
        for c in (args.key, args.content_col):
            if c not in df.columns:
                raise SystemExit(f"diff: {side} dataset lacks column '{c}'")
    d = corpus_diff(old, new, key=args.key, content_col=args.content_col)
    if args.out:
        d = d.persist()
        d.write.mode("overwrite").parquet(args.out)
    counts = {
        r["status"]: r["n"]
        for r in d.groupBy("status").agg(F.count("*").alias("n")).collect()
    }
    if args.out:
        d.unpersist()
    print(
        json.dumps(
            {
                s: counts.get(s, 0)
                for s in ("ADDED", "REMOVED", "CHANGED", "UNCHANGED")
            }
        )
    )
    return 0


def cmd_quality(args: argparse.Namespace) -> int:
    """Gopher quality-rule gate over a (doc_id, text) parquet dataset
    (plans/text.py::gopher_rules): write per-document rule booleans (or
    only the keepers with --keep-only), print the per-rule pass-rate
    summary. Optionally chain the perplexity bucket sampler
    (--ppl-sample) on the kept set using the deterministic proxy score."""
    from pyspark.sql import functions as F

    from .plans.sampling import (
        perplexity_bucket_sample,
        proxy_perplexity_score,
    )
    from .plans.text import gopher_rules

    spark = _spark("quality")
    docs = spark.read.parquet(args.path)
    for c in ("doc_id", "text"):
        if c not in docs.columns:
            raise SystemExit(f"quality: input must have a '{c}' column")
    rules = gopher_rules(
        docs, min_required_stopwords=args.min_stopwords
    ).persist()
    rule_cols = [c for c in rules.columns if c.startswith("r_")] + ["keep"]
    summary = rules.agg(
        F.count("*").alias("n_docs"),
        *[
            F.round(F.avg(F.col(c).cast("int")), 4).alias(c)
            for c in rule_cols
        ],
    ).collect()[0]
    out = rules.filter("keep") if args.keep_only else rules
    if args.ppl_sample:
        kept = rules.filter("keep").select("doc_id")
        scored = (
            docs.join(kept, "doc_id", "left_semi")
            .select("doc_id", proxy_perplexity_score("text").alias("ppl_score"))
        )
        out = perplexity_bucket_sample(scored)
    if args.out:
        out.write.mode("overwrite").parquet(args.out)
    rules.unpersist()
    print(json.dumps(summary.asDict()))
    return 0


def cmd_manifest(args: argparse.Namespace) -> int:
    """Bootstrap / refresh / verify a table's live-file manifest
    (pipeline/manifest.py) — the list-free read index maintained
    incrementally by merge/delete/update commits."""
    from .pipeline import manifest as man

    spark = _spark("manifest")
    if args.verify:
        diff = man.verify_manifest(spark, args.path)
        print(json.dumps({"path": args.path, **diff}))
        return 0 if not diff["missing"] and not diff["extra"] else 1
    if args.vacuum_orphans:
        out = man.vacuum_orphans(
            spark,
            args.path,
            older_than_s=args.older_than_s,
            dry_run=args.dry_run,
        )
        print(
            json.dumps(
                {
                    "path": args.path,
                    "n_removed": len(out["removed"]),
                    **{k: v for k, v in out.items() if k != "removed"},
                    "dry_run": args.dry_run,
                }
            )
        )
        return 0
    stats_cols = (
        [c for c in args.stats_cols.split(",") if c]
        if args.stats_cols is not None
        else None
    )
    payload = man.write_manifest(spark, args.path, stats_cols=stats_cols)
    print(
        json.dumps(
            {
                "path": args.path,
                "n_files": len(payload["files"]),
                "stats_cols": payload.get("stats_cols") or [],
                "row_count": man.manifest_row_count(spark, args.path),
            }
        )
    )
    return 0


def cmd_curate(args: argparse.Namespace) -> int:
    """Operational curation funnel (plans/curation.py::curation_funnel):
    gopher quality gate → PII redaction → exact dedup → perplexity
    bucket sampling over any (doc_id, text) parquet, with a per-stage
    funnel report and the curated corpus as parquet output."""
    from .plans.curation import curation_funnel

    spark = _spark("curate")
    docs = spark.read.parquet(args.path)
    for c in ("doc_id", "text"):
        if c not in docs.columns:
            raise SystemExit(f"curate: input needs a {c!r} column")
    stages = tuple(s for s in args.stages.split(",") if s)
    curated, report = curation_funnel(
        docs,
        stages=stages,
        min_required_stopwords=args.min_stopwords,
        blockwords=(
            [w for w in args.blockwords.split(",") if w] if args.blockwords else None
        ),
        quality_model_path=args.quality_model,
        decontam_probe=(
            spark.read.parquet(args.decontam_probe).selectExpr(
                "doc_id", "text"
            )
            if args.decontam_probe
            else None
        ),
        decontam_fuzzy_mode=args.decontam_fuzzy,
        decontam_threshold=args.decontam_threshold,
        line_dedup_min_docs=args.line_dedup_min_docs,
    )
    if args.out:
        curated.write.mode("overwrite").parquet(args.out)
    curated.unpersist()
    print(json.dumps({"path": args.path, "funnel": report, "out": args.out}))
    return 0


def cmd_recover(args: argparse.Namespace) -> int:
    """Complete a crashed merge commit's journal (pipeline/merge.py
    recover()) without running another merge — for one-shot pipelines
    whose failure would otherwise leave duplicate-visible keys until
    the next merge happens to run."""
    from .pipeline.merge import recover

    spark = _spark("recover")
    completed = recover(spark, args.path)
    print(json.dumps({"path": args.path, "journal_completed": completed}))
    return 0


# --- parser ------------------------------------------------------------------


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="neura-spark", description="Spark-native five-stage pipeline CLI"
    )
    sub = p.add_subparsers(dest="command", required=True)

    d = sub.add_parser("discover", help="scan + fingerprint + manifest diff")
    d.add_argument("--data-root", required=True)
    d.add_argument("--manifest", default="./output/manifest/episodes.parquet")
    d.add_argument("--workers", type=int, default=16,
                   help="accepted for reference parity; Spark sizes its own tasks")
    d.add_argument("--since", default=None, help="ISO mtime cutoff (S8)")
    d.add_argument("--stdout", dest="stdout_jsonl", action="store_true")
    d.add_argument("--full-hash", action="store_true",
                   help="sha256 over every byte instead of head+tail sampling")
    d.add_argument("--only-chunks", default=None)
    d.add_argument("--all", dest="print_all", action="store_true")
    d.set_defaults(fn=cmd_discover)

    v = sub.add_parser("validate", help="per-episode checks from a manifest")
    v.add_argument("--manifest", required=False, default=None)
    v.add_argument("--data-root", required=True)
    v.add_argument("--meta-dir", default="./robot_data/meta")
    v.add_argument("--out", dest="out_dir", required=True)
    v.add_argument("--fps", dest="fps_expected", type=float, default=30.0)
    v.add_argument("--tolerance", type=int, default=2)
    v.add_argument("--skip-video", action="store_true")
    v.set_defaults(fn=cmd_validate)

    s = sub.add_parser("stats", help="global stats reduction")
    s.add_argument("--data-root", required=True)
    s.add_argument("--episodes-stats", default=None)
    s.add_argument("--validated-ids", default=None)
    s.add_argument("--features", default="action,observation.state")
    s.add_argument("--out", dest="out_path", default="./output/stats/global_stats.json")
    s.set_defaults(fn=cmd_stats)

    a = sub.add_parser("align-transform", help="clean/dedup/reindex/normalize")
    a.add_argument("--data-root", required=True)
    a.add_argument("--out", dest="out_dir", required=True)
    a.add_argument("--stats", dest="stats_path", default="./output/stats/global_stats.json")
    a.add_argument("--no-normalize", action="store_true")
    a.set_defaults(fn=cmd_align_transform)

    m = sub.add_parser("materialize", help="split + partitioned layout + index")
    m.add_argument("--norm-dir", required=True)
    m.add_argument("--out", dest="out_dir", required=True)
    m.add_argument("--seed", type=int, default=42)
    m.add_argument("--train", type=float, default=0.8)
    m.add_argument("--val", type=float, default=0.1)
    m.add_argument("--test", type=float, default=0.1)
    m.add_argument("--videos-root", default=None)
    m.add_argument(
        "--link-videos",
        choices=["symlink", "hardlink", "copy", "manifest-only"],
        default="manifest-only",
    )
    m.set_defaults(fn=cmd_materialize)

    dd = sub.add_parser(
        "dedup", help="corpus near-dup pairs + clusters + canonical keep-list"
    )
    dd.add_argument("--input", required=True, help="parquet of documents")
    dd.add_argument("--out", dest="out_dir", required=True)
    dd.add_argument(
        "--method", choices=["minhash", "simhash", "jaccard"], default="minhash"
    )
    dd.add_argument(
        "--threshold",
        type=float,
        default=None,
        help="similarity cutoff for minhash/jaccard (default 0.5); "
        "rejected for simhash — use --hamming-k",
    )
    dd.add_argument(
        "--hamming-k",
        type=int,
        default=None,
        help="max Hamming distance for simhash (default 3); "
        "rejected for minhash/jaccard — use --threshold",
    )
    dd.add_argument("--id-col", default="doc_id")
    dd.add_argument("--text-col", default="text")
    dd.add_argument(
        "--store",
        default=None,
        help="minhash signature store: dedup --input as a NEW batch "
        "against it (bootstraps intra-batch-only if absent). Batch "
        "identity defaults to a hash of --input, so each batch must "
        "arrive under its OWN path; a fixed landing directory refilled "
        "with new content needs an explicit --batch-id per run or the "
        "store silently replaces the previous batch's state",
    )
    dd.add_argument(
        "--batch-id",
        type=int,
        default=None,
        help="explicit ingest-batch id for --store (default: md5 of "
        "--input). Required for correctness when re-using one input "
        "path for successive distinct batches; re-running the SAME "
        "batch must reuse the same id (replay-idempotent fold)",
    )
    dd.add_argument(
        "--fold-into-store",
        action="store_true",
        help="after emitting pairs, append the batch's signatures to "
        "--store so the next invocation sees them",
    )
    dd.add_argument(
        "--components-store",
        default=None,
        help="fold this run's pairs into a persisted (doc_id, cluster_id) "
        "assignment store (incremental connected components: only merged "
        "clusters rewrite)",
    )
    dd.set_defaults(fn=cmd_dedup)

    c = sub.add_parser("compact", help="rewrite a parquet dataset into target-sized files")
    c.add_argument("--path", required=True)
    c.add_argument("--target-mb", type=int, default=128)
    c.add_argument("--partition-col", default=None)
    c.add_argument(
        "--sprawling-only",
        action="store_true",
        help="maintenance mode: rewrite only first-level partitions whose "
        "file count exceeds --sprawl-factor x their ideal count "
        "(cost scales with the sprawl, not the table)",
    )
    c.add_argument("--sprawl-factor", type=float, default=2.0)
    c.add_argument(
        "--cluster-by",
        default=None,
        help="OPTIMIZE layout: also range-cluster + sort rewritten files "
        "on these comma-separated key column(s) (flat tables only)",
    )
    c.add_argument(
        "--zorder-by",
        default=None,
        help="OPTIMIZE ZORDER layout: Morton-cluster rewritten files on "
        "2+ comma-separated numeric columns (flat tables only)",
    )
    c.set_defaults(fn=cmd_compact)

    mg = sub.add_parser(
        "merge", help="copy-on-write MERGE INTO a parquet dataset (upsert by key)"
    )
    mg.add_argument("--path", required=True, help="target parquet dataset")
    mg.add_argument("--updates", required=True, help="parquet dir of update rows")
    mg.add_argument("--key", required=True, help="comma-separated merge key columns")
    mg.add_argument(
        "--partition-by",
        default=None,
        help="comma-separated Hive partition columns of the target layout",
    )
    mg.add_argument(
        "--allow-new-columns",
        action="store_true",
        help="widen the target schema with columns only the updates "
        "carry (default: raise; evolved tables need mergeSchema reads)",
    )
    mg.add_argument(
        "--stale-lock-s",
        type=float,
        default=None,
        help="take over a crashed holder's maintenance lock older than "
        "this many seconds (default: never)",
    )
    mg.set_defaults(fn=cmd_merge)

    ins = sub.add_parser(
        "insert",
        help="journaled INSERT: append rows through the same crash-safe "
        "commit as merge/delete/update (manifest + history included)",
    )
    ins.add_argument("--path", required=True, help="target parquet dataset")
    ins.add_argument("--rows", required=True, help="parquet dir of rows to append")
    ins.add_argument(
        "--partition-by",
        default=None,
        help="comma-separated Hive partition columns of the target layout",
    )
    ins.add_argument(
        "--stale-lock-s",
        type=float,
        default=None,
        help="take over a crashed holder's maintenance lock older than "
        "this many seconds (default: never)",
    )
    ins.set_defaults(fn=cmd_insert)

    rc = sub.add_parser(
        "recover",
        help="complete a crashed merge commit's journal on a parquet dataset",
    )
    rc.add_argument("--path", required=True, help="merge target dataset")
    rc.set_defaults(fn=cmd_recover)

    sh = sub.add_parser(
        "shards",
        help="deterministic shuffled shard export for training ingest",
    )
    sh.add_argument("--input", required=True, help="parquet dataset to export")
    sh.add_argument("--out", required=True, help="output root (shard=N dirs)")
    sh.add_argument("--n-shards", type=int, default=16)
    sh.add_argument("--id-col", default="doc_id")
    sh.add_argument(
        "--seed",
        default="shard7",
        help="permutation seed; same input + seed = byte-identical export",
    )
    sh.add_argument(
        "--format",
        choices=["parquet", "webdataset", "tfrecord"],
        default="parquet",
        help="parquet shard=N dirs (default), WebDataset tar shards, or "
        "TFRecord tf.train.Example shards",
    )
    sh.add_argument("--text-col", default="text", help="webdataset: text member column")
    sh.add_argument(
        "--meta-cols",
        default=None,
        help="webdataset: comma-separated columns for the {key}.json member",
    )
    sh.add_argument(
        "--feature-cols",
        default=None,
        help="tfrecord: comma-separated feature columns (default: all)",
    )
    sh.set_defaults(fn=cmd_shards)

    ex = sub.add_parser(
        "expect",
        help="declarative data-quality gate: JSON rules, one scan, "
        "per-rule violation counts",
    )
    ex.add_argument("--path", required=True, help="parquet dataset to check")
    ex.add_argument(
        "--rules",
        required=True,
        help='JSON file: {"rule_name": "sql predicate", ...}',
    )
    ex.add_argument(
        "--fail-on-violation",
        action="store_true",
        help="exit 1 if any rule has violations (ingest-gate mode)",
    )
    ex.set_defaults(fn=cmd_expect)

    dr = sub.add_parser(
        "drift",
        help="distribution-drift report between two parquet datasets",
    )
    dr.add_argument("--base", required=True, help="baseline parquet dataset")
    dr.add_argument("--current", required=True, help="dataset to compare")
    dr.add_argument(
        "--columns", default=None, help="comma-separated subset (default: atomic)"
    )
    dr.add_argument("--null-rate-tol", type=float, default=0.05)
    dr.add_argument("--distinct-ratio-tol", type=float, default=0.5)
    dr.add_argument(
        "--fail-on-drift",
        action="store_true",
        help="exit 1 if any column drifted (ingest-gate mode)",
    )
    dr.set_defaults(fn=cmd_drift)

    pf = sub.add_parser(
        "profile", help="per-column null/distinct/min/max profile of a parquet dataset"
    )
    pf.add_argument("--path", required=True)
    pf.add_argument(
        "--columns", default=None, help="comma-separated subset (default: all)"
    )
    pf.add_argument(
        "--approx",
        action="store_true",
        help="approx_count_distinct instead of exact (drops the Expand; "
        "the 100 TB default)",
    )
    pf.set_defaults(fn=cmd_profile)

    tj = sub.add_parser(
        "trajectory",
        help="slice episode event streams into fixed-length training windows",
    )
    tj.add_argument("--events", required=True, help="parquet dir/file of events")
    tj.add_argument("--out", required=True, help="output dir (windows/, features/)")
    tj.add_argument("--episode-col", default="user_id")
    tj.add_argument(
        "--order-by", default="ts,event_id", help="comma-separated ordering columns"
    )
    tj.add_argument("--length", type=int, default=8)
    tj.add_argument("--stride", type=int, default=4)
    tj.add_argument(
        "--features",
        action="store_true",
        help="also write per-window feature aggregates",
    )
    tj.add_argument("--value-col", default="value")
    tj.add_argument("--type-col", default="event_type")
    tj.add_argument(
        "--ts-col",
        default=None,
        help="timestamp column for --features span_ms (default: first "
        "--order-by column; must be a timestamp type)",
    )
    tj.set_defaults(fn=cmd_trajectory)

    sp = sub.add_parser(
        "split",
        help="leakage-safe train/val/test assignment (near-dup clusters share a split)",
    )
    sp.add_argument("--path", required=True, help="document parquet")
    sp.add_argument("--out", required=True)
    sp.add_argument("--id-col", default="doc_id")
    sp.add_argument("--text-col", default="text")
    sp.add_argument("--fractions", default="0.8,0.1,0.1")
    sp.add_argument("--seed", default="split6")
    sp.add_argument("--threshold", type=float, default=0.5)
    sp.set_defaults(fn=cmd_split)

    ru = sub.add_parser(
        "rollup",
        help="continuous aggregates: one-shot group rollup, or an "
        "incremental store with O(batch) folds",
    )
    ru.add_argument("--input", default=None, help="parquet dir/file to aggregate")
    ru.add_argument("--group", default=None, help="comma-separated group columns")
    ru.add_argument("--metrics", default=None, help="comma-separated numeric metric columns")
    ru.add_argument(
        "--distinct",
        default=None,
        help="comma-separated columns to track per-group approx distinct "
        "counts for (mergeable HLL sketches)",
    )
    ru.add_argument("--time-col", default=None, help="add a date_trunc time-bucket group key")
    ru.add_argument("--grain", default="day", help="time bucket grain (default day)")
    ru.add_argument(
        "--quantiles",
        default=None,
        metavar="COL:LO:HI[,...]",
        help="mergeable fixed-bin histogram quantiles per column over a "
        "declared [LO, HI) domain; reads render p50/p95/p99",
    )
    ru.add_argument(
        "--n-bins",
        type=int,
        default=64,
        help="histogram bins for --quantiles (error ≤ (HI-LO)/n_bins)",
    )
    ru.add_argument("--store", default=None, help="rollup store path")
    ru.add_argument(
        "--fold",
        action="store_true",
        help="fold --input into an existing plain-layout store "
        "(partition-pruned: cost ∝ batch groups, not store size)",
    )
    ru.add_argument(
        "--batch-id",
        type=int,
        default=None,
        help="monotonic batch id; a replayed id ≤ the store watermark is a no-op",
    )
    ru.add_argument(
        "--ingest-batch",
        type=int,
        default=None,
        help="bootstrap/append in the replay-idempotent batch layout instead",
    )
    ru.add_argument("--n-buckets", type=int, default=64)
    ru.add_argument("--read", action="store_true", help="print the store's finalized aggregate")
    ru.add_argument("--compact", action="store_true", help="fold a batch-layout store to plain")
    ru.add_argument(
        "--keep-batch-layout",
        action="store_true",
        help="with --compact: fold into an ingest_batch=-1 base "
        "partition instead of converting to plain — streaming keeps "
        "appending and replays of folded batches are fenced",
    )
    ru.set_defaults(fn=cmd_rollup)

    sn = sub.add_parser(
        "snapshot",
        help="pin / list / time-travel-read / vacuum table snapshots "
        "(survive merge+compact via retained-file renames)",
    )
    sn.add_argument("--path", required=True, help="table root")
    sn.add_argument("--create", default=None, metavar="TAG")
    sn.add_argument("--drop", default=None, metavar="TAG", help="vacuum: drop tag + GC retained files")
    sn.add_argument("--read", default=None, metavar="TAG", help="export the pinned view (needs --out)")
    sn.add_argument("--out", default=None)
    sn.add_argument("--list", action="store_true", help="(default action)")
    sn.set_defaults(fn=cmd_snapshot)

    dl = sub.add_parser(
        "delete",
        help="row-level DELETE: rewrite only the files holding rows "
        "matching a predicate (GDPR-delete for plain parquet)",
    )
    dl.add_argument("--path", required=True, help="table root")
    dl.add_argument(
        "--where", default=None, help="SQL predicate; NULL-evaluating rows are kept"
    )
    dl.add_argument(
        "--key-col", default=None, help="equality-delete key column (with --keys)"
    )
    dl.add_argument(
        "--keys",
        default=None,
        help="comma-separated key values: scan-free equality delete "
        "(deletion vector of VALUES; purge-deletes resolves it later)",
    )
    dl.add_argument("--partition-by", default=None)
    dl.add_argument("--stale-lock-s", type=float, default=None)
    dl.add_argument(
        "--mor",
        action="store_true",
        help="merge-on-read: record matched positions as a deletion "
        "vector instead of rewriting files (run purge-deletes later)",
    )
    dl.set_defaults(fn=cmd_delete)

    gr = sub.add_parser(
        "graph",
        help="iterative graph algorithms: PageRank over a parquet edge list",
    )
    gr.add_argument("--edges", required=True, help="parquet dir with src/dst columns")
    gr.add_argument("--src", default="src")
    gr.add_argument("--dst", default="dst")
    gr.add_argument("--damping", type=float, default=0.85)
    gr.add_argument("--iters", type=int, default=10)
    gr.add_argument("--top", type=int, default=20, help="print top-k to stdout")
    gr.add_argument(
        "--seeds",
        default=None,
        help="comma-separated node ids: personalized PageRank (teleport "
        "uniform over the seeds — rank becomes a seed-proximity prior)",
    )
    gr.add_argument("--out", default=None, help="write full (node, rank) parquet")
    gr.set_defaults(fn=cmd_graph)

    hh = sub.add_parser(
        "hitters",
        help="exact heavy-hitter n-grams (Misra-Gries + exact verify; "
        "the vocabulary never shuffles)",
    )
    hh.add_argument("--input", required=True, help="parquet dir with a text column")
    hh.add_argument("--text-col", default="text")
    hh.add_argument("--n", type=int, default=2)
    hh.add_argument("--min-frac", type=float, default=0.001)
    hh.add_argument("--top", type=int, default=20, help="print top-k to stdout")
    hh.add_argument("--out", default=None, help="write (gram, n_occurrences) parquet")
    hh.set_defaults(fn=cmd_hitters)

    nv = sub.add_parser(
        "novelty",
        help="per-doc n-gram novelty: duplicated-occurrence counts + "
        "is_novel gate (n_dup*10 <= n_grams)",
    )
    nv.add_argument("--input", required=True)
    nv.add_argument("--text-col", default="text")
    nv.add_argument("--id-col", default="doc_id")
    nv.add_argument("--ngram", type=int, default=8)
    nv.add_argument(
        "--drop-dupey", action="store_true",
        help="write only is_novel docs (the filter form of the census)",
    )
    nv.add_argument("--out", required=True)
    nv.set_defaults(fn=cmd_novelty)

    um = sub.add_parser(
        "unimax",
        help="UniMax mixture plan: water-fill a token budget across "
        "languages under an epoch cap (all-integer, deterministic)",
    )
    um.add_argument("--input", required=True)
    um.add_argument("--text-col", default="text")
    um.add_argument("--group-col", default="lang")
    um.add_argument("--epochs", type=int, default=1)
    um.add_argument("--budget", type=int, default=None, help="absolute token budget")
    um.add_argument(
        "--budget-frac", default="9/10",
        help="budget as a fraction NUM/DEN of the corpus tokens "
        "(used when --budget is not given)",
    )
    um.add_argument("--out", default=None, help="optional plan parquet")
    um.set_defaults(fn=cmd_unimax)

    dft = sub.add_parser(
        "psi",
        help="PSI score-drift monitor: reference slice vs current slice "
        "on a score column (or the deterministic text-proxy score)",
    )
    dft.add_argument(
        "--input",
        required=True,
        help="REFERENCE parquet (--against / --baseline-out modes) or "
        "the CURRENT batch (--baseline mode)",
    )
    dft.add_argument("--against", default=None, help="CURRENT parquet")
    dft.add_argument(
        "--baseline-out",
        default=None,
        help="persist --input's bucket counts as the drift baseline "
        "(compute the reference once; audit later batches at O(batch))",
    )
    dft.add_argument(
        "--baseline",
        default=None,
        help="audit --input against this persisted baseline store",
    )
    dft.add_argument(
        "--grow",
        action="store_true",
        help="with --baseline-out: FOLD --input's counts into the "
        "existing baseline (additive union+sum, locked + batch-id "
        "fenced) instead of overwriting it",
    )
    dft.add_argument(
        "--batch-id",
        type=int,
        default=None,
        help="monotonic replay fence for --grow (a batch <= the "
        "baseline's watermark is a no-op)",
    )
    dft.add_argument("--score-col", default="score")
    dft.add_argument("--text-col", default="text")
    dft.add_argument("--buckets", type=int, default=10)
    dft.set_defaults(fn=cmd_psi)

    pv = sub.add_parser(
        "privacy",
        help="k-anonymity/l-diversity audit over quasi-identifier "
        "columns; --suppress writes a release with sub-k classes NULLed",
    )
    pv.add_argument("--input", required=True)
    pv.add_argument("--quasi", required=True, help="comma-separated quasi-identifier columns")
    pv.add_argument("--sensitive", required=True)
    pv.add_argument("--k", type=int, default=3)
    pv.add_argument("--l", type=int, default=2)
    pv.add_argument("--audit-out", default=None, help="write per-class audit parquet")
    pv.add_argument("--suppress", action="store_true")
    pv.add_argument("--out", default=None, help="suppressed release path")
    pv.set_defaults(fn=cmd_privacy)

    hl = sub.add_parser(
        "hll",
        help="mergeable HLL distinct tracker: fold a batch into the "
        "register store and print the running estimate",
    )
    hl.add_argument("--input", default=None, help="batch parquet (omit to just read the store)")
    hl.add_argument("--col", default="doc_id")
    hl.add_argument(
        "--explode-words",
        action="store_true",
        help="tokenize --col and count distinct WORDS instead of values",
    )
    hl.add_argument("--store", required=True)
    hl.set_defaults(fn=cmd_hll)

    dm = sub.add_parser(
        "doremi",
        help="DoReMi-style domain mixture weights from excess "
        "bigram-LM loss (one-shot Group-DRO step)",
    )
    dm.add_argument("--input", required=True)
    dm.add_argument("--domain-col", default="lang")
    dm.add_argument("--text-col", default="text")
    dm.add_argument("--eta", type=float, default=0.5)
    dm.add_argument("--smoothing", type=float, default=0.2)
    dm.add_argument("--out", default=None)
    dm.set_defaults(fn=cmd_doremi)

    iv = sub.add_parser(
        "ivf",
        help="persisted IVF ANN index: build / O(batch) append / "
        "partition-pruned cosine search",
    )
    iv.add_argument("--path", required=True, help="index root")
    iv.add_argument("--build", default=None, help="embeddings parquet (fit + write)")
    iv.add_argument("--append", default=None, help="embeddings parquet (incremental)")
    iv.add_argument("--query", default=None, help="query vectors parquet")
    iv.add_argument("--id-col", default="vec_id")
    iv.add_argument("--vec-col", default="embedding")
    iv.add_argument("--k", type=int, default=16, help="quantizer cells (build)")
    iv.add_argument("--nprobe", type=int, default=2)
    iv.add_argument("--topk", type=int, default=5)
    iv.add_argument("--fraction", action="store_true",
                    help="print the files-read/files-total pruning receipt")
    iv.add_argument(
        "--exclude-self",
        action="store_true",
        help="drop stored vectors with vec_id == qid — ONLY when the "
        "queries are corpus members sharing the index id space",
    )
    iv.add_argument("--out", default=None)
    iv.set_defaults(fn=cmd_ivf)

    rg = sub.add_parser(
        "release-gate",
        help="run the configured audits (leakage / decontam / privacy "
        "/ psi) over a release candidate; exits nonzero on any failure",
    )
    rg.add_argument("--input", required=True, help="(doc_id, text[, score]) parquet")
    rg.add_argument("--splits", default=None, help="(doc_id, split) parquet → leakage check")
    rg.add_argument("--probe", default=None, help="benchmark parquet → decontam check")
    rg.add_argument("--fuzzy", action="store_true", help="decontam via MinHash-LSH Jaccard")
    rg.add_argument("--quasi", default=None, help="quasi-identifier columns → privacy check")
    rg.add_argument("--sensitive", default=None)
    rg.add_argument("--k", type=int, default=3)
    rg.add_argument("--psi-baseline", default=None, help="drift baseline store → PSI check")
    rg.add_argument("--score-col", default="score")
    rg.add_argument("--psi-threshold", type=float, default=0.25)
    rg.set_defaults(fn=cmd_release_gate)

    iw = sub.add_parser(
        "ingest-warc",
        help="web-corpus front door: WARC(.gz) responses -> extracted "
        "text -> documents-shaped parquet for the curation funnel",
    )
    iw.add_argument(
        "--input", default=None,
        help="dir/glob of .warc(.gz) files (or pass --ranges instead)",
    )
    iw.add_argument(
        "--ranges", default=None,
        help="cdx-plan fetch-manifest parquet: ingest ONLY the named "
        "(filename, offset, length) member ranges instead of whole "
        "files — the plan-then-fetch path",
    )
    iw.add_argument(
        "--ranges-base", default=None,
        help="resolve RELATIVE manifest filenames against this local "
        "crawl-mirror root (real CDX carries crawl-root-relative paths)",
    )
    iw.add_argument("--out", required=True, help="output parquet path")
    iw.add_argument(
        "--content-type",
        default="text/html",
        help="keep only responses whose Content-Type starts with this "
        "(empty string keeps all)",
    )
    iw.add_argument(
        "--max-link-density",
        type=float,
        default=None,
        help="drop pages above this link-text/text ratio (boilerplate)",
    )
    iw.add_argument(
        "--dedup-url",
        action="store_true",
        help="keep one page per URL (crawls refetch across segments)",
    )
    iw.add_argument(
        "--normalize-urls",
        action="store_true",
        help="normalize URLs (lowercase scheme/host, strip default "
        "ports/fragments/tracking params) before dedup, so trivial "
        "variants collapse",
    )
    iw.add_argument(
        "--main-content",
        action="store_true",
        help="jusText-lite block classification: text = boilerplate-"
        "REMOVED main content (nav/footer/link blocks dropped); "
        "replaces the page-level --max-link-density gate",
    )
    iw.add_argument(
        "--wet",
        action="store_true",
        help="ingest WET conversion records (payload is ALREADY "
        "extracted text): text = the decoded payload verbatim, no HTML "
        "extractor stage; --content-type defaults to text/plain in "
        "this mode",
    )
    iw.add_argument(
        "--main-content-lang",
        default=None,
        help="pin the --main-content stopword language (en/de/fr/es/it/"
        "pt); default auto-picks per page by function-word hits, and "
        "pages with no stopword signal under any list are flagged "
        "(no_stopword_signal) and kept, never silently emptied",
    )
    iw.set_defaults(fn=cmd_ingest_warc)

    ds = sub.add_parser(
        "domain-stats",
        help="per-registrable-domain census (docs, hosts, text mass) "
        "over an ingested documents corpus",
    )
    ds.add_argument(
        "--path", required=True, help="documents parquet (ingest-warc out)"
    )
    ds.add_argument(
        "--out", default=None, help="optional parquet path for the full census"
    )
    ds.add_argument(
        "--url-col", default="url", help="URL column name (default url)"
    )
    ds.add_argument(
        "--top", type=int, default=20,
        help="print the top-N domains by doc count (default 20)",
    )
    ds.set_defaults(fn=cmd_domain_stats)

    cx = sub.add_parser(
        "cdx-plan",
        help="plan a selective crawl ingest from a CDX(J) capture "
        "index: filter + latest-per-URL, write the WARC fetch manifest",
    )
    cx.add_argument(
        "--input", required=True, help="CDX(J) index shards (glob; .gz ok)"
    )
    cx.add_argument("--out", required=True, help="fetch-manifest parquet path")
    cx.add_argument(
        "--status", type=int, default=200,
        help="keep captures with this HTTP status (default 200; pass -1 "
        "to keep all)",
    )
    cx.add_argument(
        "--mime", default="text/html",
        help="keep captures whose mime starts with this (empty keeps all)",
    )
    cx.add_argument(
        "--domains", default=None,
        help="comma-separated registrable-domain allowlist",
    )
    cx.add_argument(
        "--latest", action="store_true",
        help="keep only the most recent capture per URL (struct-max, "
        "one exchange)",
    )
    cx.add_argument(
        "--dedup-digest", action="store_true",
        help="keep one capture per content digest (byte-identical "
        "payloads across mirrors fetched once; null digests never "
        "collapse)",
    )
    cx.add_argument(
        "--exclude-docs", default=None,
        help="incremental ingest: drop captures whose url an existing "
        "documents parquet already holds (anti-join)",
    )
    cx.add_argument(
        "--normalize-urls",
        action="store_true",
        help="anti-join --exclude-docs on url_normalize() of BOTH "
        "sides (manifest keeps raw urls) — REQUIRED when the corpus "
        "was ingested with ingest-warc --normalize-urls, else "
        "already-held captures are re-planned",
    )
    cx.set_defaults(fn=cmd_cdx_plan)

    wl = sub.add_parser(
        "wat-links",
        help="extract (src, dst) outlink edges from WAT metadata "
        "sidecars; --domain-graph collapses to the domain link graph",
    )
    wl.add_argument(
        "--input", required=True, help="WAT .warc(.gz) shards (glob)"
    )
    wl.add_argument("--out", required=True, help="edges parquet path")
    wl.add_argument(
        "--domain-graph", action="store_true",
        help="aggregate to (src_domain, dst_domain, n_links)",
    )
    wl.add_argument(
        "--no-normalize", action="store_true",
        help="keep raw URLs (default normalizes both endpoints so graph "
        "keys match ingest-side document urls)",
    )
    wl.set_defaults(fn=cmd_wat_links)

    rf = sub.add_parser(
        "robots-filter",
        help="annotate (or drop from) an ingested corpus the URLs a "
        "crawl's robots.txt subset disallows for an agent",
    )
    rf.add_argument(
        "--docs", required=True, help="documents parquet (ingest-warc out)"
    )
    rf.add_argument(
        "--robots", required=True,
        help="robots.txt WARC shards (glob; the crawl's robotstxt subset)",
    )
    rf.add_argument("--out", required=True, help="output parquet path")
    rf.add_argument(
        "--agent", default="*", help="user-agent the verdicts apply to"
    )
    rf.add_argument(
        "--drop", action="store_true",
        help="write only allowed rows instead of annotating",
    )
    rf.set_defaults(fn=cmd_robots_filter)

    dl = sub.add_parser(
        "delta-log",
        help="Delta transaction-log bridge (no delta-spark needed): "
        "--sync emits one add/remove commit converging _delta_log to "
        "the repo manifest's live set; default replays and summarizes",
    )
    dl.add_argument("--path", required=True, help="table root")
    dl.add_argument(
        "--sync",
        action="store_true",
        help="write the converging commit (requires a _manifest)",
    )
    dl.add_argument(
        "--enable-auto-sync",
        action="store_true",
        help="opt the table into per-commit mirroring: every journaled "
        "DML verb (merge/insert/delete/update/compact) syncs _delta_log "
        "right after its manifest commit; a crash in the window "
        "converges at the next verb",
    )
    dl.set_defaults(fn=cmd_delta_log)

    bp = sub.add_parser(
        "bpe",
        help="train a BPE tokenizer on the corpus (merge table out; "
        "optional per-doc token counts)",
    )
    bp.add_argument("--input", required=True)
    bp.add_argument("--text-col", default="text")
    bp.add_argument("--id-col", default="doc_id")
    bp.add_argument("--merges", type=int, default=100)
    bp.add_argument("--min-pair-count", type=int, default=2)
    bp.add_argument("--merges-out", required=True, help="merge-table parquet")
    bp.add_argument(
        "--counts-out", default=None, help="per-doc token counts parquet"
    )
    bp.set_defaults(fn=cmd_bpe)

    lm = sub.add_parser(
        "lm-score",
        help="bigram-LM perplexity scoring (trained on the corpus); "
        "--keep-rates switches to CCNet bucket sampling",
    )
    lm.add_argument("--input", required=True)
    lm.add_argument("--text-col", default="text")
    lm.add_argument("--id-col", default="doc_id")
    lm.add_argument(
        "--keep-rates",
        default=None,
        help="comma-separated per-bucket keep rates (bucket count = "
        "list length); omit to write raw scores",
    )
    lm.add_argument("--out", required=True)
    lm.set_defaults(fn=cmd_lm_score)

    rd = sub.add_parser(
        "rewrite-dups",
        help="excise corpus-duplicated word n-gram spans from every "
        "document, keeping one canonical occurrence (Lee et al.)",
    )
    rd.add_argument("--input", required=True, help="parquet with id + text columns")
    rd.add_argument("--text-col", default="text")
    rd.add_argument("--id-col", default="doc_id")
    rd.add_argument("--ngram", type=int, default=8, help="span gram width")
    rd.add_argument(
        "--drop-empty", action="store_true",
        help="drop documents whose text was entirely duplicated",
    )
    rd.add_argument("--out", required=True)
    rd.set_defaults(fn=cmd_rewrite_dups)

    ld = sub.add_parser(
        "line-dedup",
        help="CCNet cross-document line dedup: keep one corpus-wide "
        "occurrence per normalized line, or purge boilerplate lines "
        "shared by >= --min-docs documents",
    )
    ld.add_argument("--input", required=True, help="parquet with id + text columns")
    ld.add_argument("--text-col", default="text")
    ld.add_argument("--id-col", default="doc_id")
    ld.add_argument(
        "--min-docs", type=int, default=None,
        help="purge mode: drop EVERY occurrence of lines appearing in "
        "at least this many distinct docs (default: keep-first mode)",
    )
    ld.add_argument(
        "--drop-empty", action="store_true",
        help="drop documents whose every line was deduplicated away",
    )
    ld.add_argument("--out", required=True)
    ld.set_defaults(fn=cmd_line_dedup)

    ds = sub.add_parser(
        "dsir",
        help="DSIR: select raw docs most like a target domain "
        "(hashed-ngram log-ratio weights + seeded Gumbel-top-k)",
    )
    ds.add_argument("--input", required=True, help="raw corpus parquet")
    ds.add_argument(
        "--target", default=None,
        help="target-domain parquet (a SEPARATE corpus: q is estimated "
        "from --input alone, p from --target alone, per the DSIR paper; "
        "a doc_id appearing in both is scored as a raw doc — its target "
        "copy only shapes p, counts never merge)",
    )
    ds.add_argument(
        "--target-where", default=None,
        help="SQL predicate naming the target subset of --input",
    )
    ds.add_argument("--text-col", default="text")
    ds.add_argument("--id-col", default="doc_id")
    ds.add_argument("--k", type=int, default=1000)
    ds.add_argument("--seed", default="dsir-g")
    ds.add_argument(
        "--weights-out", default=None,
        help="persist the estimated bucket-weight table for batch reuse",
    )
    ds.add_argument(
        "--weights", default=None,
        help="score against a STORED weight table (O(batch), no re-estimation)",
    )
    ds.add_argument("--out", required=True)
    ds.set_defaults(fn=cmd_dsir)

    qm = sub.add_parser(
        "quality-model",
        help="train an LR quality classifier on a labeled set, score "
        "the corpus; --filter applies the seeded Pareto keep rule",
    )
    qm.add_argument("--input", required=True, help="corpus to score")
    qm.add_argument("--labeled", default=None, help="labeled training parquet")
    qm.add_argument(
        "--model-out", default=None, help="persist the trained model for reuse"
    )
    qm.add_argument(
        "--model", default=None, help="reload a persisted model (skips training)"
    )
    qm.add_argument("--label-col", default="label")
    qm.add_argument("--text-col", default="text")
    qm.add_argument("--id-col", default="doc_id")
    qm.add_argument("--filter", action="store_true")
    qm.add_argument("--keep-only", action="store_true")
    qm.add_argument("--alpha", type=float, default=9.0)
    qm.add_argument("--seed", default="quality")
    qm.add_argument("--out", required=True)
    qm.set_defaults(fn=cmd_quality_model)

    ef = sub.add_parser(
        "embed-filter",
        help="flag/drop embedding outliers (global-centroid z or "
        "per-KMeans-cell z with a tiny-cell defense)",
    )
    ef.add_argument("--input", required=True, help="parquet with id + vector columns")
    ef.add_argument("--id-col", default="vec_id")
    ef.add_argument("--vec-col", default="embedding")
    ef.add_argument(
        "--cells", type=int, default=None,
        help="KMeans cell count for the localized test (omit = global mode)",
    )
    ef.add_argument("--z-threshold", type=float, default=3.0)
    ef.add_argument("--min-cell", type=int, default=4)
    ef.add_argument("--keep-only", action="store_true")
    ef.add_argument("--out", required=True)
    ef.set_defaults(fn=cmd_embed_filter)

    ph = sub.add_parser(
        "phash",
        help="perceptual-hash near-dup pairs over binary payloads "
        "(banded Hamming; --fake-decode for the codec-less stand-in)",
    )
    ph.add_argument("--input", required=True, help="parquet with id + payload columns")
    ph.add_argument("--id-col", default="doc_id")
    ph.add_argument("--payload-col", default="payload")
    ph.add_argument("--max-hamming", type=int, default=3)
    ph.add_argument("--bucket-cap", type=int, default=1000)
    ph.add_argument("--fake-decode", action="store_true")
    ph.add_argument("--out", required=True)
    ph.set_defaults(fn=cmd_phash)

    mv = sub.add_parser(
        "matview",
        help="incremental materialized view: create once, refresh at "
        "cost ∝ new base files, read the finalized aggregate",
    )
    mv.add_argument("--path", required=True, help="view store path")
    mv.add_argument("--create", action="store_true")
    mv.add_argument("--refresh", action="store_true")
    mv.add_argument("--rebuild", action="store_true")
    mv.add_argument("--base", default=None, help="base table (with --create)")
    mv.add_argument("--group", default=None, help="comma-separated group columns")
    mv.add_argument("--metrics", default=None, help="comma-separated metric columns")
    mv.add_argument("--distinct", default=None)
    mv.add_argument("--time-col", default=None)
    mv.add_argument("--grain", default="day")
    mv.add_argument("--quantiles", default=None, metavar="COL:LO:HI[,...]")
    mv.add_argument("--n-bins", type=int, default=64)
    mv.add_argument(
        "--on-base-mutation",
        default="error",
        choices=["error", "rebuild"],
        help="what refresh does when already-aggregated base files were "
        "rewritten (default: refuse)",
    )
    mv.set_defaults(fn=cmd_matview)

    pg = sub.add_parser(
        "purge-deletes",
        help="fold live deletion vectors back into the data files "
        "(rewrites only files with recorded positions)",
    )
    pg.add_argument("--path", required=True, help="table root")
    pg.add_argument("--partition-by", default=None)
    pg.add_argument("--stale-lock-s", type=float, default=None)
    pg.set_defaults(fn=cmd_purge_deletes)

    up = sub.add_parser(
        "update",
        help="row-level UPDATE: apply SET col=expr to rows matching a "
        "predicate, rewriting only their files",
    )
    up.add_argument("--path", required=True, help="table root")
    up.add_argument("--where", required=True, help="SQL predicate")
    up.add_argument(
        "--set",
        action="append",
        required=True,
        metavar="COL=EXPR",
        help="assignment (repeatable)",
    )
    up.add_argument("--partition-by", default=None)
    up.add_argument("--stale-lock-s", type=float, default=None)
    up.set_defaults(fn=cmd_update)

    dc = sub.add_parser(
        "decontam",
        help="benchmark decontamination: build a persisted probe store, "
        "or report per-doc overlap of a corpus batch against it",
    )
    dc.add_argument("--probe", default=None, help="eval-suite parquet (build mode)")
    dc.add_argument("--store", default=None, help="probe store path")
    dc.add_argument("--input", default=None, help="corpus batch parquet (check mode)")
    dc.add_argument("--out", default=None, help="write the report parquet here")
    dc.add_argument("--id-col", default="doc_id")
    dc.add_argument("--text-col", default="text")
    dc.add_argument("--n", type=int, default=5, help="shingle size")
    dc.add_argument("--fpp", type=float, default=0.01)
    dc.add_argument(
        "--fuzzy",
        action="store_true",
        help="MinHash-LSH Jaccard vs --probe (rephrased/edited copies), "
        "not exact shingle overlap; needs --probe AND --input",
    )
    dc.add_argument("--threshold", type=float, default=0.5)
    dc.set_defaults(fn=cmd_decontam)

    hi = sub.add_parser(
        "history", help="print a table's maintenance audit log (JSON lines)"
    )
    hi.add_argument("--path", required=True)
    hi.set_defaults(fn=cmd_history)

    cd = sub.add_parser(
        "card",
        help="emit a data-card JSON datasheet (counts, profile, mixture, "
        "snapshots, history) for a table",
    )
    cd.add_argument("--path", required=True)
    cd.add_argument("--columns", default=None, help="profile subset (default: atomic columns)")
    cd.add_argument("--source-col", default=None, help="add a per-source mixture table")
    cd.add_argument("--snapshot-tag", default=None, help="record which pin this card describes")
    cd.add_argument("--out", default=None, help="also write the card JSON to this path")
    cd.add_argument(
        "--privacy-quasi",
        default=None,
        help="comma-separated quasi-identifier columns: adds the "
        "k-anonymity/l-diversity privacy section",
    )
    cd.add_argument("--privacy-sensitive", default=None)
    cd.set_defaults(fn=cmd_card)

    cu = sub.add_parser(
        "curate",
        help="curation funnel: gopher gate, PII redaction, exact "
        "dedup, perplexity sampling — per-stage report + curated "
        "parquet",
    )
    cu.add_argument("--path", required=True, help="(doc_id, text) parquet")
    cu.add_argument("--out", default=None, help="write curated corpus here")
    cu.add_argument(
        "--stages",
        default="gopher,pii,dedup,sample",
        help="comma-separated subset/order of gopher,blocklist,pii,"
        "rewrite,decontam,dedup,neardup,classify,sample,linededup "
        "(blocklist/rewrite/decontam/neardup/classify/linededup are "
        "opt-in; place linededup early, per CCNet)",
    )
    cu.add_argument(
        "--line-dedup-min-docs",
        type=int,
        default=None,
        help="linededup stage: purge lines shared by >= N distinct "
        "docs instead of keep-first",
    )
    cu.add_argument(
        "--blockwords",
        default=None,
        help="comma-separated bad-words list for the blocklist stage",
    )
    cu.add_argument(
        "--quality-model",
        default=None,
        help="persisted LR model path for the classify stage",
    )
    cu.add_argument(
        "--decontam-probe",
        default=None,
        help="benchmark/eval-suite (doc_id, text) parquet for the "
        "decontam stage",
    )
    cu.add_argument(
        "--decontam-fuzzy",
        action="store_true",
        help="decontam stage: MinHash-LSH Jaccard instead of exact "
        "5-gram overlap",
    )
    cu.add_argument("--decontam-threshold", type=float, default=0.5)
    cu.add_argument(
        "--min-stopwords",
        type=int,
        default=2,
        help="Gopher required-stopword threshold (published default 2)",
    )
    cu.set_defaults(fn=cmd_curate)

    mf = sub.add_parser(
        "manifest",
        help="bootstrap/refresh (default) or --verify a table's "
        "live-file manifest for list-free reads",
    )
    mf.add_argument("--path", required=True)
    mf.add_argument(
        "--verify",
        action="store_true",
        help="diff the manifest against an actual listing; exit 1 on drift",
    )
    mf.add_argument(
        "--vacuum-orphans",
        action="store_true",
        help="GC aged data files the manifest does not list "
        "(crash-stranded output); snapshot-referenced files survive",
    )
    mf.add_argument(
        "--older-than-s",
        type=float,
        default=86400.0,
        help="vacuum: only files older than this many seconds (default 1 day)",
    )
    mf.add_argument(
        "--dry-run", action="store_true", help="vacuum: report, don't delete"
    )
    mf.add_argument(
        "--stats-cols",
        default=None,
        help="comma-separated columns: record per-file min/max + row "
        "counts for driver-side data skipping (read_pruned) and "
        "metadata-only counts; omitted = preserve prior config",
    )
    mf.set_defaults(fn=cmd_manifest)

    qa = sub.add_parser(
        "quality",
        help="Gopher rule gate over (doc_id, text) parquet: per-rule "
        "pass rates + optional filtered/sampled output",
    )
    qa.add_argument("--path", required=True)
    qa.add_argument("--out", default=None, help="write result parquet here")
    qa.add_argument(
        "--keep-only", action="store_true", help="write only keep=true rows"
    )
    qa.add_argument(
        "--min-stopwords",
        type=int,
        default=2,
        help="required-stopword threshold (published default 2)",
    )
    qa.add_argument(
        "--ppl-sample",
        action="store_true",
        help="chain the perplexity bucket sampler (proxy score) on the "
        "kept set; output becomes (doc_id, bucket)",
    )
    qa.set_defaults(fn=cmd_quality)

    df_ = sub.add_parser(
        "diff",
        help="corpus version diff: per-status counts between two "
        "parquet versions (ADDED/REMOVED/CHANGED/UNCHANGED)",
    )
    df_.add_argument("--old", required=True)
    df_.add_argument("--new", required=True)
    df_.add_argument("--key", default="doc_id")
    df_.add_argument("--content-col", default="text")
    df_.add_argument("--out", default=None, help="write per-key status parquet")
    df_.set_defaults(fn=cmd_diff)

    sd = sub.add_parser(
        "semdedup",
        help="semantic dedup over an embeddings parquet: k-means "
        "blocking + cosine near-dup groups, one keeper per group",
    )
    sd.add_argument("--path", required=True)
    sd.add_argument("--id-col", default="vec_id")
    sd.add_argument("--vec-col", default="embedding")
    sd.add_argument("--k", type=int, default=16)
    sd.add_argument("--threshold", type=float, default=0.95)
    sd.add_argument("--out", default=None, help="write assignment parquet")
    sd.set_defaults(fn=cmd_semdedup)

    cu = sub.add_parser(
        "curriculum",
        help="global easy-to-hard curriculum rank over a parquet dataset "
        "with an integer difficulty column (no global sort)",
    )
    cu.add_argument("--path", required=True)
    cu.add_argument("--out", required=True)
    cu.add_argument("--id-col", default="doc_id")
    cu.add_argument("--level-col", required=True)
    cu.add_argument("--seed", default="curr")
    cu.set_defaults(fn=cmd_curriculum)
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
