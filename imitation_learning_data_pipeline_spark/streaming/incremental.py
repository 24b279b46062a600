"""Structured Streaming variants of the incremental-ingest semantics.

Reference mapping (SURVEY §2.9): the reference's hand-rolled incremental
Discover (fingerprint diff, --since cutoff, PENDING re-pickup) is a
file-source stream here; its per-frame timestamp ordering is event-time,
so late data is a watermark, not a sleep-loop.

The driver contract needs plain DataFrames, so each streaming query runs
with Trigger.availableNow into an in-memory sink and returns the final
table — same code path a continuous deployment would run with a real
trigger + checkpoint; only the trigger/sink differ.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.readers import TABLE_SCHEMAS, _events_ts_unit


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming read of the events table, normalizing `ts` to a
    microsecond timestamp across testdata generations (same footer
    sniffing as the batch reader — see load_table)."""
    from pyspark.sql import types as T

    unit = _events_ts_unit(sf_dir)
    schema = TABLE_SCHEMAS["events"]
    if unit in ("ns", "int"):
        schema = T.StructType(
            [
                T.StructField(f.name, T.LongType() if f.name == "ts" else f.dataType)
                for f in schema.fields
            ]
        )
    if unit == "ns":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    if unit == "ns":
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if unit == "int":
        return raw.withColumn("ts", F.timestamp_seconds(F.col("ts")))
    return raw


def run_stream_to_batch(
    streaming_df: DataFrame,
    spark: SparkSession,
    output_mode: str = "complete",
    checkpoint: str | None = None,
) -> DataFrame:
    """Execute a streaming plan over all currently-available data and
    return the result as a batch DataFrame (memory sink, availableNow).

    ``output_mode``: aggregations use "complete"; arbitrary-stateful
    operators (applyInPandasWithState) only support "update"/"append".
    ``checkpoint`` pins offsets + state store across invocations: a
    re-run resumes exactly-once from where the last one stopped and the
    complete-mode table re-emits accumulated state.
    """
    name = f"mem_{uuid.uuid4().hex[:8]}"
    w = (
        streaming_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
    )
    if checkpoint:
        w = w.option("checkpointLocation", checkpoint)
    q = w.start()
    q.awaitTermination()
    return spark.table(name)


def _documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming read of the documents table (file source, path-keyed
    exactly-once like the discover stream)."""
    return (
        spark.readStream.schema(TABLE_SCHEMAS["documents"])
        .option("pathGlobFilter", "documents*.parquet")
        .parquet(sf_dir)
    )


def streaming_dedup_exact(
    spark: SparkSession, sf_dir: str, checkpoint: str | None = None
) -> DataFrame:
    """Exact dedup as a STATEFUL STREAMING aggregate: the dedup_exact
    plan (normalized-content md5 → groupBy hash → count + min doc_id)
    over a document stream. State is one compact row per distinct hash —
    the streaming-dedup shape for continuous corpus ingest, where each
    micro-batch folds newly-landed documents into the running duplicate
    groups instead of re-scanning the corpus.

    Same planted-duplicate corpus as dedup_exact (built by unioning
    stateless transforms of the stream), so the batch oracle checks the
    streaming machinery end-to-end. ``checkpoint`` keys incremental
    exactly-once runs (pytest drives two-batch arrival); the contract
    path runs availableNow over everything like the other streaming
    entries.
    """
    from ..functions.text import normalize_text

    stream = _documents_stream(spark, sf_dir).select("doc_id", "text")
    exact = stream.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.upper("text"), F.lit(" !!!")).alias("text"),
    )
    near = stream.filter(F.col("doc_id") % 10 == 5).select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" tail marker words appended here")).alias(
            "text"
        ),
    )
    corpus = stream.unionByName(exact).unionByName(near)
    agg = (
        corpus.select(
            "doc_id", F.md5(normalize_text("text")).alias("content_hash")
        )
        .groupBy("content_hash")
        .agg(F.count("*").alias("n_copies"), F.min("doc_id").alias("canonical_doc"))
        .filter(F.col("n_copies") > 1)
    )
    return run_stream_to_batch(agg, spark, checkpoint=checkpoint)


def streaming_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-BOUNDED streaming dedup: dropDuplicatesWithinWatermark
    on a doubled event stream.

    streaming_dedup_exact's groupBy state grows with distinct keys
    forever — right for corpus dedup where the hash set IS the product,
    wrong for an infinite event stream. Here duplicates are only ever
    near each other in event time (at-least-once delivery retries), so
    state for a key is dropped once the watermark passes it: bounded by
    rate × watermark horizon, not by stream lifetime. The stream unions
    itself (every event arrives exactly twice), so the deduped output
    must equal DISTINCT of the input — which is what the oracle checks.
    """
    stream = _events_stream(spark, sf_dir).select(
        "event_id", "ts", "user_id", "event_type"
    )
    doubled = stream.unionByName(stream)
    deduped = doubled.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    out = deduped.select(
        "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
        "user_id",
        "event_type",
    )
    return run_stream_to_batch(out, spark, output_mode="append")


def streaming_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(user, event_type) running counts as a stream — the streaming
    shape of discover's incremental diff: each micro-batch folds new
    files into stateful aggregates keyed like the manifest."""
    stream = _events_stream(spark, sf_dir)
    agg = stream.groupBy("user_id", "event_type").agg(
        F.count("*").alias("n"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )
    return run_stream_to_batch(agg, spark)


def streaming_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event-time windows with a 2-hour watermark.

    With availableNow over static files nothing is late, so the result
    equals the batch date_trunc aggregation — which is exactly what the
    DuckDB oracle checks.
    """
    stream = _events_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
        .agg(F.count("*").alias("n"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n",
        )
    )
    return run_stream_to_batch(agg, spark)


def run_incremental_dedup_stream(
    stream_docs: DataFrame,
    store_path: str,
    pairs_path: str,
    checkpoint: str,
    threshold: float = 0.5,
    components_store: str | None = None,
) -> None:
    """Continuous near-dup detection: each micro-batch of ``(doc_id,
    text)`` documents is deduped against the persisted minhash store
    (batch-vs-store AND intra-batch pairs, see
    plans.dedup.dedup_against_store), the pairs land under
    ``pairs_path``, and the batch's signatures fold into the store —
    so the NEXT batch sees it. Shingling cost per trigger is O(batch),
    never O(corpus): this is the streaming form of incremental corpus
    ingest, where re-running the full dedup per arrival would be the
    100 TB anti-pattern.

    Exactly-once story: the checkpoint pins source offsets; within
    foreachBatch every write is keyed by ``ingest_batch=batch_id`` with
    dynamic partition overwrite, so a replayed micro-batch REPLACES its
    own partitions in both the pairs sink and the store instead of
    appending duplicates — idempotent sinks + checkpointed offsets =
    effectively exactly-once (the standard Structured Streaming
    contract for foreachBatch, which is itself at-least-once).

    Runs with Trigger.availableNow and blocks until drained; call again
    with the same checkpoint as new files land (pytest drives three
    arrivals, including a no-new-data replay).
    """
    from ..plans.dedup import (
        dedup_against_store,
        minhash_pairs,
        write_minhash_store,
    )

    spark = stream_docs.sparkSession

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        from .. import cache
        from ..pipeline.fsio import _fs
        from ..plans.dedup import minhash_signatures

        batch_df = batch_df.persist()
        try:
            if batch_df.isEmpty():
                return
            # Bootstrap: first-ever batch has no store to dedup against.
            # Hadoop FileSystem existence check — works on any scheme
            # the session can reach (file:, hdfs:, s3a:, gs:).
            fs, bands_p = _fs(spark, f"{store_path}/bands")
            if fs.exists(bands_p):
                # ONE signature pass per trigger, shared by the dedup
                # and the store fold (shingling is the dominant cost);
                # exclude_batch makes an at-least-once REPLAY of this
                # batch ignore its own already-committed fold.
                cache.begin_plan()
                sigs = minhash_signatures(batch_df)
                pairs = dedup_against_store(
                    batch_df,
                    store_path,
                    threshold=threshold,
                    exclude_batch=batch_id,
                    sigs=sigs,
                )
            else:
                sigs = None
                pairs = minhash_pairs(batch_df, threshold=threshold)
            (
                pairs.withColumn("ingest_batch", F.lit(int(batch_id)))
                .write.partitionBy("ingest_batch")
                .mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .parquet(pairs_path)
            )
            write_minhash_store(
                batch_df, store_path, ingest_batch=batch_id, sigs=sigs
            )
            if components_store is not None:
                # maintain running cluster assignments: fold this
                # trigger's pairs into the label store (O(batch pairs +
                # touched clusters); replay-safe — refolding already-
                # merged pairs finds no label edges and rewrites
                # nothing). Read the pairs back from the just-committed
                # partition rather than re-running the dedup plan.
                from ..plans.dedup import fold_components_into_store

                # a zero-pair batch's dynamic overwrite writes no
                # partitions (possibly just a bare dir) — nothing to fold
                from pyspark.errors import AnalysisException

                try:
                    committed = spark.read.parquet(pairs_path).filter(
                        F.col("ingest_batch") == int(batch_id)
                    )
                    has_pairs = not committed.isEmpty()
                except AnalysisException:  # no data files yet
                    has_pairs = False
                if has_pairs:
                    fold_components_into_store(
                        spark,
                        committed.select("doc_a", "doc_b"),
                        components_store,
                    )
        finally:
            batch_df.unpersist()

    q = (
        stream_docs.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def run_streaming_merge_stream(
    stream_updates: DataFrame,
    target_path: str,
    key: str | list[str],
    checkpoint: str,
    partition_by: list[str] | None = None,
    order_col: str | None = None,
) -> None:
    """Continuous CDC upsert: each micro-batch of keyed update rows
    MERGEs into the parquet table at ``target_path`` via the file-level
    copy-on-write :func:`~..pipeline.merge.merge_into` — the streaming
    half of the change-data-capture story (the batch half is the CLI
    ``merge`` verb). Per trigger, cost ∝ touched files, never the table:
    a 100 TB table absorbing a 1 GB update batch rewrites ~the files
    holding those keys.

    ``order_col``: CDC feeds often carry several versions of one key in
    a batch; when named, the LAST version per key (max order_col, doc_id
    of the window is the key itself) wins before the merge — without it
    the caller guarantees per-batch key uniqueness (merge_into's own
    precondition).

    Effectively-exactly-once: the checkpoint pins source offsets, and a
    replayed batch re-merges the SAME updates — merge_into is
    key-idempotent (replace-by-key), so replay converges to the state
    the first run committed (pytest drives a no-op replay). A crash
    mid-commit is completed by the journal on the next trigger's merge
    (or by ``recover()``); the maintenance lock serializes the merge
    against any concurrent compact on the same table.

    First-ever batch bootstraps the table (plain write, ``partition_by``
    layout). Runs with Trigger.availableNow and blocks until drained;
    call again with the same checkpoint as new data lands.
    """
    spark = stream_updates.sparkSession
    keys = [key] if isinstance(key, str) else list(key)

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        from ..pipeline.fsio import _fs
        from ..pipeline.merge import merge_into

        src = batch_df.persist()
        try:
            if src.isEmpty():
                return
            upd = src
            if order_col is not None:
                from pyspark.sql.window import Window

                w = Window.partitionBy(*keys).orderBy(F.col(order_col).desc())
                upd = (
                    upd.withColumn("__rn", F.row_number().over(w))
                    .filter(F.col("__rn") == 1)
                    .drop("__rn")
                )
            fs, jp = _fs(spark, target_path)
            if not fs.exists(jp):
                writer = upd.write.mode("overwrite")
                if partition_by:
                    writer = writer.partitionBy(*partition_by)
                writer.parquet(target_path)
            else:
                merge_into(
                    spark, target_path, upd, key=keys, partition_by=partition_by
                )
        finally:
            src.unpersist()

    q = (
        stream_updates.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


# --- custom stateful operator: bounded-state approx distinct -----------------
#
# The one streaming shape the built-in operators can't express: a
# per-key aggregate whose STATE is a fixed-size sketch rather than a
# growing set. dropDuplicates keeps one state row per distinct value
# (state = cardinality — unbounded); a HyperLogLog register file is
# 2^p bytes per key FOREVER, which is the only viable per-key
# distinct-tracking state at 100 TB stream volumes. Implemented with
# applyInPandasWithState (Arrow-batched, update mode).


def _hll_update(regs, values, p: int) -> None:
    import hashlib

    m = 1 << p
    for v in values:
        h = int.from_bytes(
            hashlib.md5(str(v).encode("utf-8")).digest()[:8], "big"
        )
        idx = h & (m - 1)
        w = h >> p
        rho = (64 - p) - w.bit_length() + 1
        if rho > regs[idx]:
            regs[idx] = rho


def _hll_estimate(regs) -> int:
    import numpy as np

    m = len(regs)
    alpha = 0.7213 / (1 + 1.079 / m)
    est = alpha * m * m / float(np.sum(np.exp2(-regs.astype(np.float64))))
    zeros = int(np.count_nonzero(regs == 0))
    if est <= 2.5 * m and zeros:  # small-range (linear counting) correction
        est = m * float(np.log(m / zeros))
    return int(round(est))


def streaming_approx_distinct(
    stream: DataFrame,
    key_col: str,
    value_col: str,
    p: int = 8,
) -> DataFrame:
    """Per-key running approximate-distinct over a stream with BOUNDED
    state: 2^p one-byte HLL registers per key (standard error
    1.04/sqrt(2^p): p=8 → 256 B/key at ~6.5%, p=12 → 4 KB/key at ~1.6%), updated per micro-batch via applyInPandasWithState.

    Returns the streaming DataFrame ``(key string, approx_distinct
    long)`` in update mode — run through :func:`run_stream_to_batch`
    with ``output_mode="update"`` (memory sink appends one row per key
    per trigger; the LAST row per key is the current estimate) or any
    real update-mode sink. State survives across triggers through the
    checkpoint, so arrivals keep refining the same registers — pytest
    drives two checkpointed arrivals and checks the estimate grows to
    the full union, within HLL tolerance of the exact count.
    """
    import numpy as np
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    m = 1 << p

    def _fold(key, pdfs, state: GroupState):
        if state.exists:
            regs = np.frombuffer(state.get[0], dtype=np.uint8).copy()
        else:
            regs = np.zeros(m, dtype=np.uint8)
        for pdf in pdfs:
            _hll_update(regs, pdf[value_col].tolist(), p)
        state.update((regs.tobytes(),))
        yield pd.DataFrame(
            {"key": [key[0]], "approx_distinct": [_hll_estimate(regs)]}
        )

    return (
        stream.select(
            F.col(key_col).cast("string").alias("key"), F.col(value_col)
        )
        .groupBy("key")
        .applyInPandasWithState(
            _fold,
            outputStructType="key string, approx_distinct long",
            stateStructType="regs binary",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def streaming_trajectory_windows(
    stream: DataFrame,
    length: int = 8,
    stride: int = 4,
) -> DataFrame:
    """Streaming counterpart of ``plans.trajectory.trajectory_windows``:
    as each episode's events arrive, emit every newly-COMPLETED
    length-``length`` stride-``stride`` window (append mode), identical
    rows to the batch operator on the same prefix of events.

    State per episode is BOUNDED at O(length): the running event count,
    the next un-emitted window start, and the < ``length`` tail events
    that future overlapping windows still need — everything older is
    dropped the moment the last window covering it ships. A 30-minute
    episode at 50 Hz carries ~``length`` rows of state, not 90k.

    Ordering contract: events are sorted (ts, event_id) WITHIN each
    micro-batch; across batches the operator assumes per-episode
    in-order arrival (true for append-style file/offset sources — the
    reference's per-episode recordings land whole). A late-data-robust
    variant would front a watermarked sort buffer; that machinery lives
    in the session/window aggregates (streaming_session_window).
    """
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    L, S = int(length), int(stride)

    def _fold(key, pdfs, state: GroupState):
        if state.exists:
            n_seen, next_start, ids, types = state.get
            ids, types = list(ids), list(types)
        else:
            n_seen, next_start, ids, types = 0, 0, [], []
        batches = [p for p in pdfs if len(p)]
        if batches:
            new = pd.concat(batches).sort_values(["ts", "event_id"])
            # null-safe conversions: int(NaN) raises and str(None) would
            # fabricate a 'None' type — pass nulls through like the
            # batch operator does
            ids.extend(
                None if pd.isna(x) else int(x) for x in new["event_id"]
            )
            types.extend(
                None if pd.isna(x) else str(x) for x in new["event_type"]
            )
            n_seen += len(new)
        rows: list[tuple] = []
        while next_start + L <= n_seen:
            buf0 = n_seen - len(ids)  # trajectory index of buffer head
            off = next_start - buf0
            wid = next_start // S
            for pos in range(L):
                rows.append((key[0], wid, pos, ids[off + pos], types[off + pos]))
            next_start += S
        drop = next_start - (n_seen - len(ids))
        if drop > 0:  # events no future window can touch
            ids, types = ids[drop:], types[drop:]
        state.update((n_seen, next_start, ids, types))
        if rows:
            yield pd.DataFrame(
                rows,
                columns=["user_id", "window_id", "pos", "event_id", "event_type"],
            )

    return (
        stream.select("user_id", "ts", "event_id", "event_type")
        .groupBy("user_id")
        .applyInPandasWithState(
            _fold,
            outputStructType=(
                "user_id long, window_id long, pos long, "
                "event_id long, event_type string"
            ),
            stateStructType=(
                "n_seen long, next_start long, "
                "ids array<long>, types array<string>"
            ),
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def run_incremental_profile_stream(
    stream: DataFrame,
    cols: list[str],
    store_path: str,
    checkpoint: str,
) -> None:
    """Continuous data profiling: each micro-batch's mergeable sketch
    profile (plans.profile.profile_frame_sketch — counts, min/max, HLL
    distinct sketches) lands as one ``ingest_batch``-partitioned
    parquet partition under ``store_path``. The running profile of the
    WHOLE corpus is then ``merge_profiles(read store)`` — a fold over
    #batches × #columns metadata rows, so profiling a growing corpus
    costs one pass per batch and the historical data is never rescanned.

    Same effectively-exactly-once recipe as run_incremental_dedup_stream:
    checkpointed offsets + per-batch dynamic partition overwrite make a
    replayed micro-batch REPLACE its own profile partition.

    Runs with Trigger.availableNow and blocks; call again with the same
    checkpoint as new files land. Read the current profile with
    :func:`read_profile_store`.
    """
    from ..plans.profile import profile_frame_sketch

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        (
            profile_frame_sketch(batch_df, cols)
            .withColumn("ingest_batch", F.lit(int(batch_id)))
            .write.partitionBy("ingest_batch")
            .mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .parquet(store_path)
        )

    q = (
        stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def read_profile_store(spark: SparkSession, store_path: str) -> DataFrame:
    """Fold the persisted per-batch profiles into the corpus-wide
    profile with readable distinct estimates."""
    from ..plans.profile import merge_profiles, profile_estimates

    return profile_estimates(
        merge_profiles(
            spark.read.parquet(store_path).drop("ingest_batch")
        )
    )


def run_incremental_rollup_stream(
    stream: DataFrame,
    group_cols: list[str],
    metrics: list[str],
    store_path: str,
    checkpoint: str,
    time_col: str | None = None,
    grain: str = "day",
    quantile_cols: dict[str, tuple[float, float]] | None = None,
    n_bins: int = 64,
) -> None:
    """Continuous aggregates over a stream: each micro-batch's mergeable
    rollup partials (plans.rollup.rollup_partials — per-group n/sum/min/
    max/sumsq, plus fixed-bin quantile histograms when
    ``quantile_cols`` declares domains) land as one
    ``ingest_batch``-partitioned write under
    ``store_path`` (the rollup store's batch layout). The running
    aggregate of the whole corpus is ``read_rollup(store)`` — a fold
    over #batches × #touched-groups partial rows, never a rescan.

    Same effectively-exactly-once recipe as the dedup/profile streams:
    checkpointed offsets + per-batch dynamic partition overwrite make a
    replayed micro-batch REPLACE its own partial partition byte-for-
    byte, so at-least-once delivery cannot double-count a batch. When
    per-batch partials accumulate, ``compact_rollup_store(...,
    to_layout="batch")`` folds them into a base partition while
    KEEPING the batch layout — subsequent triggers keep appending, and
    a replay of an already-folded batch id is fenced to a no-op by the
    store's ``compacted_through`` watermark (the plain-layout default
    conversion is for handing the store to scheduled
    ``fold_rollup_into_store`` jobs instead).

    Runs with Trigger.availableNow and blocks; call again with the same
    checkpoint as new data lands.
    """
    from ..plans.rollup import rollup_partials, write_rollup_store

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        parts = rollup_partials(
            batch_df,
            group_cols,
            metrics,
            time_col=time_col,
            grain=grain,
            quantile_cols=quantile_cols,
            n_bins=n_bins,
        )
        write_rollup_store(parts, store_path, ingest_batch=int(batch_id))

    q = (
        stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def run_incremental_decontam_stream(
    stream: DataFrame,
    probe_store: str,
    out_path: str,
    checkpoint: str,
    n: int = 5,
) -> None:
    """Continuous decontamination: each micro-batch of documents is
    checked against a PERSISTED probe store (plans.dedup.
    write_probe_store — the probe suite is shingled once, ever) and the
    per-doc overlap report lands under ``ingest_batch=N`` partitions at
    ``out_path``. Per-trigger cost is shingling the BATCH plus a
    Bloom-broadcast prefilter — the probe side is a metadata-sized
    parquet read, never a reshingle.

    Same effectively-exactly-once recipe as every incremental driver
    here: checkpointed offsets + dynamic partition overwrite make a
    replayed batch REPLACE its own report partition. Contaminated docs
    accumulated so far = a plain read of ``out_path``.
    """
    from ..plans.dedup import decontam_overlap_against_store

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        (
            decontam_overlap_against_store(batch_df, probe_store, n=n)
            .withColumn("ingest_batch", F.lit(int(batch_id)))
            .write.partitionBy("ingest_batch")
            .mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .parquet(out_path)
        )

    q = (
        stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def run_incremental_quality_stream(
    stream: DataFrame,
    out_path: str,
    checkpoint: str,
    min_required_stopwords: int = 2,
) -> None:
    """Continuous quality gating: each micro-batch of ``(doc_id, text)``
    documents is scored with the Gopher rule set (plans.text.
    gopher_rules — a pure per-row projection, so per-trigger cost is
    exactly the batch scan) and the per-document rule report lands
    under ``ingest_batch=N`` partitions at ``out_path``.

    Same effectively-exactly-once recipe as every incremental driver
    here: checkpointed offsets + dynamic partition overwrite make a
    replayed batch REPLACE its own report partition. The corpus-so-far
    gate is a plain read of ``out_path`` (filter ``keep`` for the
    training-eligible set).
    """
    from ..plans.text import gopher_rules

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        (
            gopher_rules(batch_df, min_required_stopwords=min_required_stopwords)
            .withColumn("ingest_batch", F.lit(int(batch_id)))
            .write.partitionBy("ingest_batch")
            .mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .parquet(out_path)
        )

    q = (
        stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def run_incremental_dsir_stream(
    stream: DataFrame,
    weights_path: str,
    out_path: str,
    checkpoint: str,
    min_score: float | None = None,
    k_per_batch: int | None = None,
    seed: str = "dsir-g",
) -> None:
    """Continuous DSIR selection: each micro-batch of ``(doc_id, text)``
    documents is scored against a PERSISTED weight table
    (plans.dsir.write_dsir_weights — estimated once over the reference
    corpora, never re-touched) and the selected rows land under
    ``ingest_batch=N`` partitions at ``out_path``.

    Two selection modes, exactly one required:
    - ``min_score``: keep every doc whose importance score clears the
      threshold — the natural streaming form (batch-size-independent
      acceptance, same doc always gets the same verdict).
    - ``k_per_batch``: seeded Gumbel-top-k WITHIN each batch — the
      paper's resampling applied per micro-batch (note the k is per
      batch, not global: a stream has no global top-k without a
      compaction pass; the seed keys on doc_id so replays agree).

    Exactly-once: checkpointed offsets + dynamic partition overwrite —
    a replayed batch REPLACES its own partition. Per-trigger cost is
    the batch featurization + a broadcast join against the B-row
    weight table (O(batch), the probe-store discipline).
    """
    if (min_score is None) == (k_per_batch is None):
        raise ValueError("pass exactly one of min_score / k_per_batch")
    from ..plans.dsir import dsir_select_batch, doc_features, read_dsir_weights

    spark = stream.sparkSession
    weights = read_dsir_weights(spark, weights_path)

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        if k_per_batch is not None:
            picked = dsir_select_batch(
                batch_df, weights, k=k_per_batch, seed=seed
            ).withColumn("k_batch", F.lit(int(k_per_batch)))
        else:
            from ..plans.dsir import _SCALE

            feats = doc_features(batch_df)
            scored = (
                feats.join(F.broadcast(weights), "bkt", "left")
                .groupBy("doc_id")
                .agg(F.sum(F.coalesce("w_int", F.lit(0))).alias("score_int"))
            )
            picked = (
                batch_df.select("doc_id")
                .join(scored, "doc_id", "left")
                .select(
                    "doc_id",
                    (F.coalesce("score_int", F.lit(0)).cast("double") / _SCALE).alias(
                        "score"
                    ),
                )
                .filter(F.col("score") >= min_score)
            )
        (
            picked.withColumn("ingest_batch", F.lit(int(batch_id)))
            .write.partitionBy("ingest_batch")
            .mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .parquet(out_path)
        )

    q = (
        stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def run_incremental_quality_model_stream(
    stream: DataFrame,
    model_path: str,
    out_path: str,
    checkpoint: str,
    filter_keep: bool = False,
    alpha: float = 9.0,
    seed: str = "quality",
) -> None:
    """Continuous classifier-based quality scoring: each micro-batch of
    ``(doc_id, text)`` documents is scored by a PERSISTED LR quality
    model (plans.quality_model.save_quality_model — trained once on a
    labeled sample, never retrained in the stream) and lands under
    ``ingest_batch=N`` partitions; ``filter_keep`` additionally applies
    the seeded Pareto acceptance rule and keeps only survivors.

    Per-trigger cost: hashed-TF featurization + a coefficient-broadcast
    transform — map-side only, O(batch). Keep decisions are pure
    functions of (doc_id, seed), so replays and re-chunked streams
    agree row-for-row (the split_assign determinism contract).
    """
    from ..plans.quality_model import load_quality_model, pareto_keep, score_quality

    model = load_quality_model(model_path)

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        scored = score_quality(model, batch_df).select(
            "doc_id",
            F.round("quality_score", 6).alias("quality_score"),
            pareto_keep("quality_score", "doc_id", alpha=alpha, seed=seed).alias(
                "kept"
            ),
        )
        if filter_keep:
            scored = scored.filter("kept").drop("kept")
        (
            scored.withColumn("ingest_batch", F.lit(int(batch_id)))
            .write.partitionBy("ingest_batch")
            .mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .parquet(out_path)
        )

    q = (
        stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def run_incremental_heavyhitter_stream(
    stream: DataFrame,
    store_path: str,
    checkpoint: str,
    text_col: str = "text",
    n: int = 2,
    k: int = 1001,
) -> None:
    """Continuous boilerplate census: each micro-batch of documents is
    folded into the per-batch heavy-hitter state — Misra-Gries
    candidates over the batch's n-gram stream (mergeable summaries,
    same machinery as plans.text.heavy_hitter_ngrams) followed by an
    EXACT recount of those candidates within the batch (the batch is
    still at hand, so the stored counts are exact batch counts, not MG
    lower bounds). One small partition lands per ``ingest_batch``:
    candidate rows (gram, n_occurrences) plus a single (NULL,
    stream-length) row.

    Read with :func:`read_heavyhitter_store`, which folds exact sums
    and carries a QUANTIFIED upper bound: a gram absent from batch b's
    candidates has batch count <= floor(N_b/(k+1)) (the MG guarantee),
    so its fold-wide undercount is bounded by the sum of that slack
    over exactly the batches it is missing from. No false negatives
    above the bound, certainty flags below it — the honest incremental
    version of the batch operator's exactness.

    Same effectively-exactly-once recipe as every incremental driver
    here: checkpointed offsets + dynamic partition overwrite make a
    replayed micro-batch REPLACE its own partition. Per-trigger cost is
    two scans of the BATCH (candidates, verify); history is never
    rescanned. Runs with Trigger.availableNow and blocks.
    """
    from ..functions.text import clean_words, shingles_of_words
    from ..plans.text import misra_gries_candidates

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        grams = batch_df.select(
            F.explode(
                shingles_of_words(clean_words(F.col(text_col)), n)
            ).alias("gram")
        ).persist()
        try:
            summaries = misra_gries_candidates(grams, k).collect()
            total = sum(r.weight for r in summaries if r.gram is None)
            cands = list({r.gram for r in summaries if r.gram is not None})
            if cands:
                cand_df = F.broadcast(
                    spark.createDataFrame([(c,) for c in cands], "gram string")
                )
                counted = (
                    grams.join(cand_df, "gram", "left_semi")
                    .groupBy("gram")
                    .agg(F.count("*").alias("n_occurrences"))
                )
            else:
                counted = spark.createDataFrame(
                    [], "gram string, n_occurrences long"
                )
            out = counted.unionByName(
                spark.createDataFrame(
                    [(None, int(total))], "gram string, n_occurrences long"
                )
            )
            (
                out.withColumn("k", F.lit(int(k)))
                .withColumn("ingest_batch", F.lit(int(batch_id)))
                .coalesce(1)
                .write.partitionBy("ingest_batch")
                .mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .parquet(store_path)
            )
        finally:
            grams.unpersist()

    q = (
        stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def read_heavyhitter_store(
    spark: SparkSession, store_path: str, min_frac: float
) -> DataFrame:
    """The corpus-so-far heavy hitters from the incremental store:
    (gram, n_lower, n_upper, certain) for every candidate whose upper
    bound reaches ``ceil(min_frac * total stream length)``.

    ``n_lower`` sums the stored EXACT batch counts (batches where the
    gram was a candidate); ``n_upper`` adds floor(N_b/(k+1)) for each
    batch the gram is MISSING from (the MG absence bound), so the true
    corpus count always sits in [n_lower, n_upper]. ``certain`` marks
    rows already provable from n_lower alone. The fold touches only
    the store's metadata-sized partial rows — never the corpus.
    """
    st = spark.read.parquet(store_path)
    totals = st.filter(F.col("gram").isNull()).select(
        "ingest_batch",
        F.col("n_occurrences").alias("batch_total"),
        F.floor(
            F.col("n_occurrences") / (F.col("k") + F.lit(1))
        ).alias("slack"),
    )
    agg = totals.agg(
        F.sum("batch_total").alias("total"), F.sum("slack").alias("total_slack")
    )
    cands = st.filter(F.col("gram").isNotNull())
    per_gram = (
        cands.join(totals.select("ingest_batch", "slack"), "ingest_batch")
        .groupBy("gram")
        .agg(
            F.sum("n_occurrences").alias("n_lower"),
            F.sum("slack").alias("present_slack"),
        )
    )
    thr = F.ceil(F.lit(float(min_frac)) * F.col("total")).cast("long")
    return (
        per_gram.crossJoin(F.broadcast(agg))
        .select(
            "gram",
            F.col("n_lower").cast("long").alias("n_lower"),
            (
                F.col("n_lower") + F.col("total_slack") - F.col("present_slack")
            ).cast("long").alias("n_upper"),
            (F.col("n_lower") >= thr).alias("certain"),
            thr.alias("threshold"),
        )
        .filter(F.col("n_upper") >= F.col("threshold"))
    )


def run_incremental_novelty_stream(
    stream: DataFrame,
    store_path: str,
    out_path: str,
    checkpoint: str,
    text_col: str = "text",
    n: int = 8,
) -> None:
    """Continuous per-doc novelty: each micro-batch is scored against
    the gram-count store of every PRIOR batch plus itself
    (plans.dedup.novelty_against_store — exactly the count the batch
    would see in the concatenated corpus), the per-doc novelty rows
    land under ``out_path/ingest_batch=b``, and the batch's own gram
    counts fold into the store as a new partition.

    Exactly-once: checkpointed offsets + dynamic partition overwrite on
    BOTH sinks, and the store read EXCLUDES the current batch_id's
    partition, so a replayed micro-batch re-scores against the same
    history and replaces its own outputs. Per-trigger cost: one hash
    scan of the store + O(batch) — text is never rescanned (see the
    store's honest vocabulary-sized cost note in plans/dedup.py).
    """
    from ..plans.dedup import novelty_against_store

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        docs = batch_df.select(
            "doc_id", F.col(text_col).alias("text")
        ).persist()
        try:
            # Missing store (first batch) => empty history; any OTHER
            # read failure must surface — treating a corrupted store as
            # empty would silently mark every re-seen doc novel.
            from pyspark.errors import AnalysisException

            try:
                st = spark.read.parquet(store_path)
                history = (
                    st.filter(F.col("ingest_batch") != int(batch_id))
                    .groupBy("h")
                    .agg(F.sum("c").alias("c"))
                )
            except AnalysisException:
                history = spark.createDataFrame([], "h long, c long")
            out = novelty_against_store(docs, history, n=n)
            (
                out.withColumn("ingest_batch", F.lit(int(batch_id)))
                .write.partitionBy("ingest_batch")
                .mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .parquet(out_path)
            )
            from ..functions.text import clean_words, shingles_of_words

            (
                docs.select(
                    F.explode(
                        shingles_of_words(clean_words(F.col("text")), n)
                    ).alias("s")
                )
                .select(F.xxhash64("s").alias("h"))
                .groupBy("h")
                .agg(F.count("*").alias("c"))
                .withColumn("ingest_batch", F.lit(int(batch_id)))
                .write.partitionBy("ingest_batch")
                .mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .parquet(store_path)
            )
        finally:
            docs.unpersist()

    q = (
        stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def run_incremental_hll_stream(
    stream: DataFrame,
    store_path: str,
    checkpoint: str,
    col: str = "doc_id",
    explode_words: bool = False,
) -> None:
    """Continuous distinct tracking: each micro-batch's HLL registers
    land under ``store_path/ingest_batch=b``; the folded registers
    (groupBy bucket, max) are EXACTLY the registers of everything
    ingested (plans/hll.py's merge property), read back with
    :func:`read_hll_register_store`.

    Exactly-once the easy way: a replayed micro-batch overwrites its
    own partition (checkpointed offsets + dynamic partition overwrite),
    and register max is idempotent besides — double-folding a batch
    cannot move the state. Per-trigger cost: O(batch) hashing + a
    ≤256-row write; the store grows 2^p rows per batch and compacts to
    2^p rows whenever convenient (fold partitions, rewrite)."""
    from ..plans.hll import hll_registers

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        items = batch_df.select(F.col(col).cast("string").alias("item"))
        if explode_words:
            from ..functions.text import clean_words

            items = items.select(F.explode(clean_words("item")).alias("item"))
        (
            hll_registers(items, "item")
            .withColumn("ingest_batch", F.lit(int(batch_id)))
            .write.partitionBy("ingest_batch")
            .mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .parquet(store_path)
        )

    q = (
        stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def read_hll_register_store(spark: SparkSession, store_path: str) -> DataFrame:
    """Fold the per-batch register partitions into the global register
    table (bucket, rho_max) — feed to plans/hll.py::hll_estimate."""
    return (
        spark.read.parquet(store_path)
        .groupBy("bucket")
        .agg(F.max("rho_max").alias("rho_max"))
    )
