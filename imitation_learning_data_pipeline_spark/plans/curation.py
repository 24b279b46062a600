"""Corpus-curation composite + ordered-set/cube aggregates.

pipeline_corpus_curation is the LLM-training-data showcase: quality
filter → exact dedup (keep min doc_id) → per-language survivor report —
three stages of the curation funnel in one declarative plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import normalize_text
from ..session import ensure_utc
from ..sources import load_table
from .dedup import _NORM_SQL
from .registry import register


@register(
    "pipeline_corpus_curation",
    oracle=f"""
WITH scored AS (
  SELECT doc_id, lang,
         md5({_NORM_SQL}) AS content_hash,
         len(list_filter(string_split({_NORM_SQL}, ' '), x -> x <> '')) AS n_words
  FROM documents
), quality AS (
  SELECT * FROM scored WHERE n_words >= 20
), deduped AS (
  SELECT content_hash, min(doc_id) AS doc_id, min(lang) AS lang,
         min(n_words) AS n_words
  FROM quality GROUP BY content_hash
)
SELECT lang,
       count(*) AS n_docs,
       CAST(sum(n_words) AS BIGINT) AS total_words,
       round(avg(n_words), 4) AS avg_words
FROM deduped GROUP BY lang
""",
)
def pipeline_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality gate → exact dedup → per-language corpus report.

    The funnel every pretraining corpus goes through; here all three
    stages fuse into scan → hash-agg → hash-agg (two exchanges total,
    no text shuffled past the first projection).
    """
    from ..sources.readers import spread

    ensure_utc(spark)
    docs = spread(load_table(spark, sf_dir, "documents"))
    scored = docs.select(
        "doc_id",
        "lang",
        F.md5(normalize_text("text")).alias("content_hash"),
        F.size(
            F.filter(F.split(normalize_text("text"), " "), lambda x: x != "")
        ).alias("n_words"),
    )
    quality = scored.filter(F.col("n_words") >= 20)
    deduped = quality.groupBy("content_hash").agg(
        F.min("doc_id").alias("doc_id"),
        F.min("lang").alias("lang"),
        F.min("n_words").alias("n_words"),
    )
    return deduped.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_words").cast("long").alias("total_words"),
        F.round(F.avg("n_words"), 4).alias("avg_words"),
    )


@register(
    "agg_percentiles",
    oracle="""
SELECT l_returnflag,
       round(quantile_cont(l_extendedprice, 0.5), 4) AS median_price,
       round(quantile_cont(l_extendedprice, 0.9), 4) AS p90_price,
       round(quantile_cont(l_quantity, 0.25), 4) AS q1_qty
FROM lineitem GROUP BY l_returnflag
""",
)
def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (ordered-set aggregate).

    F.percentile is the exact (sort-based) form matching SQL
    quantile_cont/percentile_cont semantics; percentile_approx is the
    sketch-based scale path but its error bound makes it
    hash-uncheckable against another engine.
    """
    ensure_utc(spark)
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_extendedprice", F.lit(0.5)), 4).alias("median_price"),
        F.round(F.percentile("l_extendedprice", F.lit(0.9)), 4).alias("p90_price"),
        F.round(F.percentile("l_quantity", F.lit(0.25)), 4).alias("q1_qty"),
    )


@register(
    "agg_cube",
    oracle="""
SELECT l_returnflag, l_linestatus,
       round(sum(l_extendedprice), 2) AS sum_price, count(*) AS n
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
""",
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_utc(spark)
    li = load_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        F.count("*").alias("n"),
    )


# --- corpus version diff -----------------------------------------------------
#
# "What changed between corpus v1 and v2" — the release-engineering
# operation behind every dataset version bump: per-document status
# (ADDED / REMOVED / CHANGED / UNCHANGED) from a key-aligned content
# comparison. At 100 TB this is ONE full-outer hash join on the key with
# both sides reduced to (key, content_hash) first — the text never
# shuffles, only 16-byte digests do.


def corpus_diff(
    old: DataFrame,
    new: DataFrame,
    key: str = "doc_id",
    content_col: str = "text",
) -> DataFrame:
    """Per-key diff of two corpus versions → (key, status) where status
    ∈ ADDED (key only in ``new``), REMOVED (only in ``old``), CHANGED
    (both, different content hash), UNCHANGED.

    Content equality is md5-of-content — each side is projected to
    (key, hash) BEFORE the join, so the shuffle carries digests, not
    documents. Presence is tracked with explicit flags (md5 of a NULL
    document is NULL, so a missing hash must not mean a missing key);
    NULL content hashes compare via null-safe equality."""
    o = old.select(
        F.col(key),
        F.md5(F.col(content_col)).alias("__h_old"),
        F.lit(True).alias("__in_old"),
    )
    n = new.select(
        F.col(key),
        F.md5(F.col(content_col)).alias("__h_new"),
        F.lit(True).alias("__in_new"),
    )
    status = (
        F.when(F.col("__in_old").isNull(), F.lit("ADDED"))
        .when(F.col("__in_new").isNull(), F.lit("REMOVED"))
        .when(F.col("__h_old").eqNullSafe(F.col("__h_new")), F.lit("UNCHANGED"))
        .otherwise(F.lit("CHANGED"))
    )
    return o.join(n, key, "full_outer").select(key, status.alias("status"))


_DIFF_DROP = 97  # doc_id % 97 == 0 → removed in v2
_DIFF_EDIT = 53  # doc_id % 53 == 0 → text edited in v2


@register(
    "corpus_diff_versions",
    oracle=f"""
WITH v2 AS (
  SELECT doc_id,
         CASE WHEN doc_id % {_DIFF_EDIT} = 0 THEN text || ' v2 edit'
              ELSE text END AS text
  FROM documents WHERE doc_id % {_DIFF_DROP} <> 0
  UNION ALL
  SELECT doc_id + 5000000 AS doc_id, text FROM documents
  WHERE doc_id % 101 = 0
),
o AS (SELECT doc_id, md5(text) AS h, TRUE AS in_old FROM documents),
n AS (SELECT doc_id, md5(text) AS h, TRUE AS in_new FROM v2)
SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
       CASE WHEN o.in_old IS NULL THEN 'ADDED'
            WHEN n.in_new IS NULL THEN 'REMOVED'
            WHEN o.h IS NOT DISTINCT FROM n.h THEN 'UNCHANGED'
            ELSE 'CHANGED' END AS status
FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
""",
)
def corpus_diff_versions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Library/oracle wrapper: diff the documents table against a
    deterministically-derived v2 (every %97 doc removed, every %53 doc
    edited, every %101 doc re-added under a new id) — all four statuses
    populated and the whole diff hash-checked."""
    ensure_utc(spark)
    docs = load_table(spark, sf_dir, "documents")
    v2 = (
        docs.filter(F.col("doc_id") % _DIFF_DROP != 0)
        .select(
            "doc_id",
            F.when(
                F.col("doc_id") % _DIFF_EDIT == 0,
                F.concat(F.col("text"), F.lit(" v2 edit")),
            )
            .otherwise(F.col("text"))
            .alias("text"),
        )
        .unionByName(
            docs.filter(F.col("doc_id") % 101 == 0).select(
                (F.col("doc_id") + 5000000).alias("doc_id"), "text"
            )
        )
    )
    return corpus_diff(docs, v2)


# --- operational curation funnel (round-9) ----------------------------------
#
# pipeline_corpus_curation (above) is the FUSED report query — three
# stages collapsed into two exchanges for the contract check. This is
# the operational form a corpus actually runs through: configurable
# stage chain with a per-stage funnel report and the curated corpus as
# the output. Each stage is a contract-covered plan (gopher_rules,
# pii_scrub, exact dedup's keep-canonical agg, perplexity bucket
# sampling) — this function only composes them.

_FUNNEL_STAGES = ("gopher", "pii", "dedup", "sample")
# every runnable stage ("rewrite" is opt-in, not in the default chain)
_KNOWN_STAGES = (
    "gopher", "blocklist", "pii", "rewrite", "decontam", "dedup", "neardup",
    "classify", "sample", "linededup",
)


def curation_funnel(
    docs: DataFrame,
    stages: tuple[str, ...] = _FUNNEL_STAGES,
    min_required_stopwords: int = 2,
    report: bool = True,
    blockwords: list[str] | None = None,
    quality_model_path: str | None = None,
    decontam_probe: DataFrame | None = None,
    decontam_fuzzy_mode: bool = False,
    decontam_threshold: float = 0.5,
    line_dedup_min_docs: int | None = None,
) -> tuple[DataFrame, list[dict]]:
    """Chain curation stages over a ``(doc_id, text)`` frame →
    (curated_frame, funnel_report).

    ``report=True`` counts rows after every stage (N extra actions —
    the funnel numbers every curation run wants at development scale);
    ``report=False`` builds one lazy plan with zero extra actions for
    the 100 TB production pass. Stages:

    - ``gopher``: published Gopher rule conjunction (threshold
      override via ``min_required_stopwords``).
    - ``blocklist`` (opt-in): C4-style bad-words gate — drops any doc
      containing a ``blockwords`` hit (text.blocklist_filter).
    - ``pii``: email/IPv4/phone redaction — transforms text, drops
      nothing.
    - ``rewrite`` (opt-in, not in the default chain): Lee-et-al
      duplicate-span excision (dedup.remove_dup_spans) — rewrites
      text, drops docs whose text was entirely duplicated. Place it
      BEFORE ``dedup``: exact copies become empty and drop here,
      partial copies lose only the copied passage. NORMALIZATION SIDE
      EFFECT: the rewrite reassembles EVERY document (even ones with
      zero duplicated spans) from ``clean_words`` — lowercased,
      punctuation stripped — so the original surface text is gone
      downstream. In particular ``pii`` after ``rewrite`` cannot
      match emails/IPv4s/phones (``@`` and ``.`` are stripped); that
      ordering raises here rather than silently leaking PII.
    - ``decontam`` (opt-in): drop documents that leak the benchmark
      suite ``decontam_probe`` — any exact distinct-5-gram overlap by
      default (dedup.decontam_overlap: broadcast probe shingle set,
      map-side corpus join), or ``decontam_fuzzy_mode=True`` for
      MinHash-LSH Jaccard ≥ ``decontam_threshold``
      (dedup.decontam_fuzzy — catches rephrased copies). Shingling
      normalizes via clean_words, so ordering vs ``rewrite`` is a
      policy choice, not a correctness trap — but place it BEFORE
      ``rewrite`` if you want contamination judged on the document's
      FULL original content rather than its span-excised remainder.
    - ``linededup`` (opt-in, r15): CCNet cross-document line dedup
      (dedup.line_dedup) — rewrite every document to its surviving
      lines (keep-first corpus-wide, or purge lines shared by >=
      ``line_dedup_min_docs`` docs) and drop documents whose every
      line was boilerplate. Place it EARLY (CCNet runs paragraph
      dedup before any LM/quality filtering) so shared banners and
      nav lines don't distort downstream quality features; it keeps
      raw surface text, so ordering vs ``pii``/``gopher`` has no
      normalization trap.
    - ``dedup``: exact content dedup, keep the lowest doc_id per
      md5(text) (one hash aggregate — no window).
    - ``neardup`` (opt-in): MinHash-LSH near-dup clustering with
      QUALITY-AWARE keeper selection (dedup.cluster_keep_best, word
      count as the default quality score) — keeps the best extraction
      per cluster, not the first-crawled. Place it AFTER ``dedup``
      (exact copies are cheaper to kill by hash).
    - ``classify`` (opt-in): classifier-based quality filtering — score
      with a PERSISTED LR model (quality_model.save_quality_model) and
      keep via the seeded Pareto acceptance rule (the GPT-3 recipe).
    - ``sample``: CCNet-shaped perplexity-bucket acceptance on the
      proxy score (swap in score_with_model upstream for a real LM).
    """
    from .sampling import perplexity_bucket_sample, proxy_perplexity_score
    from .text import gopher_rules, pii_scrub

    unknown = [s for s in stages if s not in _KNOWN_STAGES]
    if unknown:
        raise ValueError(f"curation_funnel: unknown stages {unknown}")
    if "rewrite" in stages and "pii" in stages and stages.index(
        "pii"
    ) > stages.index("rewrite"):
        raise ValueError(
            "curation_funnel: 'pii' after 'rewrite' cannot work — the "
            "rewrite stage reassembles text from clean_words (lowercased, "
            "punctuation stripped), so '@'/'.'/digit-group patterns no "
            "longer match and PII would silently leak; order 'pii' before "
            "'rewrite'"
        )
    from .. import cache

    cur = docs.select("doc_id", "text")
    out: list[dict] = []
    n = cur.count() if report else None
    prev = None
    # Composite plan: nested builders (remove_dup_spans, minhash_pairs)
    # call cache.begin_plan() internally; the composite guard keeps
    # their pins AND the inter-stage pins below alive together until
    # the next top-level plan (see cache.composite). Entered without a
    # `with` block on purpose: the returned frame is LAZY, so the pins
    # must outlive this function — eviction happens at the next
    # top-level begin_plan, exactly like every other pin-using builder.
    _composite = cache.composite()
    _composite.__enter__()
    try:
        for stage in stages:
            # Per-row stages (gopher / blocklist / pii / classify / sample)
            # filter INLINE via passthrough instead of deriving a keep-set
            # and joining it back: a self-join references `cur` twice, and
            # under report=False (one lazy plan, nothing persisted) each
            # reference re-scans the whole upstream chain — measured 2.2×
            # on the composed 8-stage funnel (SCALING.md round-11). The
            # inline filter is pushed below the stage's projections and
            # every feature alias is inlined into it; lambdas get no
            # subexpression elimination there, so a stage's word-level
            # features must be scalar expressions (see gopher_rules).
            if stage == "gopher":
                cur = (
                    gopher_rules(cur, min_required_stopwords, passthrough=("text",))
                    .filter(F.col("keep"))
                    .select("doc_id", "text")
                )
            elif stage == "pii":
                cur = pii_scrub(cur).select(
                    "doc_id", F.col("text_clean").alias("text")
                )
            elif stage == "blocklist":
                if not blockwords:
                    raise ValueError(
                        "curation_funnel: the 'blocklist' stage needs blockwords"
                    )
                from .text import blocklist_filter

                cur = (
                    blocklist_filter(cur, blockwords, passthrough=("text",))
                    .filter(F.col("keep"))
                    .select("doc_id", "text")
                )
            elif stage == "rewrite":
                from .dedup import remove_dup_spans

                # multi-reference stage (the span detector and the join-back
                # both read cur): pin the upstream chain once
                if not report:
                    cur = cache.pin(cur)
                cur = (
                    remove_dup_spans(cur)
                    .filter(F.col("kept_text") != "")
                    .select("doc_id", F.col("kept_text").alias("text"))
                )
            elif stage == "decontam":
                if decontam_probe is None:
                    raise ValueError(
                        "curation_funnel: the 'decontam' stage needs "
                        "decontam_probe (the benchmark/eval-suite frame)"
                    )
                from .dedup import decontam_fuzzy, decontam_overlap

                # multi-reference stage (the overlap plan and the anti
                # join-back both read cur): pin the upstream chain once
                if not report:
                    cur = cache.pin(cur)
                if decontam_fuzzy_mode:
                    hit = decontam_fuzzy(
                        cur, decontam_probe, threshold=decontam_threshold
                    ).select("doc_id").distinct()
                else:
                    hit = decontam_overlap(cur, decontam_probe).select("doc_id")
                cur = cur.join(hit, "doc_id", "left_anti")
            elif stage == "linededup":
                from .dedup import line_dedup

                # multi-reference stage (the line census and the
                # regroup join-back both read cur): pin the upstream
                # chain once
                if not report:
                    cur = cache.pin(cur)
                cur = (
                    line_dedup(
                        cur,
                        mode=(
                            "frequent" if line_dedup_min_docs
                            else "keep_first"
                        ),
                        min_docs=line_dedup_min_docs,
                    )
                    .filter(F.col("clean_text") != "")
                    .select(
                        "doc_id", F.col("clean_text").alias("text")
                    )
                )
            elif stage == "dedup":
                if not report:
                    cur = cache.pin(cur)
                keep = (
                    cur.groupBy(F.md5("text").alias("__d"))
                    .agg(F.min("doc_id").alias("doc_id"))
                    .select("doc_id")
                )
                cur = cur.join(keep, "doc_id")
            elif stage == "neardup":
                from ..functions.text import clean_words
                from .dedup import cluster_keep_best, minhash_pairs

                if not report:
                    cur = cache.pin(cur)

                pairs = minhash_pairs(cur).select("doc_a", "doc_b")
                keep = (
                    cluster_keep_best(cur, pairs, F.size(clean_words("text")))
                    .filter(F.col("is_keeper"))
                    .select("doc_id")
                )
                cur = cur.join(keep, "doc_id")
            elif stage == "classify":
                if quality_model_path is None:
                    raise ValueError(
                        "curation_funnel: the 'classify' stage needs "
                        "quality_model_path (see quality_model.save_quality_model) "
                        "or an already-fitted model object"
                    )
                from .quality_model import load_quality_model, pareto_keep, score_quality

                model = (
                    quality_model_path
                    if hasattr(quality_model_path, "transform")
                    else load_quality_model(quality_model_path)
                )
                # score_quality preserves input columns — filter in place
                cur = (
                    score_quality(model, cur)
                    .filter(pareto_keep("quality_score", "doc_id"))
                    .select("doc_id", "text")
                )
            elif stage == "sample":
                cur = perplexity_bucket_sample(
                    cur.select(
                        "doc_id",
                        "text",
                        proxy_perplexity_score("text").alias("ppl_score"),
                    ),
                    passthrough=("text",),
                ).select("doc_id", "text")
            if report:
                cur = cur.persist()
                m = cur.count()
                if prev is not None:
                    prev.unpersist()
                prev = cur
                out.append({"stage": stage, "rows_in": n, "rows_out": m})
                n = m
        # the final frame stays persisted under report=True — the caller
        # reads it next (write/collect) and may unpersist afterwards
    finally:
        # depth must unwind even if a stage builder raises —
        # otherwise begin_plan() would never evict again
        _composite.__exit__(None, None, None)
    return cur, out


@register("pipeline_curation_full")
def pipeline_curation_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL opt-in curation chain composed as one plan (r10 verdict
    item 9 — the composed funnel, not just its stages, needs a
    regression surface): gopher → blocklist → pii → rewrite → dedup →
    neardup → classify → sample over the documents table,
    ``report=False`` so the chain is one lazy plan.

    The classify model is trained in-query on a seeded 20% sample with
    a deterministic length-based label (word count ≥ 30 — a stand-in
    for human quality labels; LBFGS LR is deterministic given the
    sample, and the Pareto keep is a pure function of (doc_id, seed)),
    so the whole query is reproducible and rows-only-checkable. Output:
    per-language doc/word counts of the curated corpus. Rows-only by
    nature (minhash clustering + an LR decision boundary are not
    SQL-expressible); every stage's own semantics are oracle- or
    pytest-anchored individually (see CONTRACT_EXCLUDE entry).
    """
    from ..functions.hashing import md5_unit_interval
    from ..functions.text import clean_words
    from ..sources.readers import spread
    from .quality_model import train_quality_classifier

    ensure_utc(spark)
    docs = spread(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "lang", "text"
    )
    sample = docs.filter(md5_unit_interval("doc_id", seed="qfull") < 0.2)
    labeled = sample.select(
        "doc_id",
        "text",
        (F.size(clean_words("text")) >= 30).cast("int").alias("label"),
    )
    model = train_quality_classifier(labeled)
    curated, _ = curation_funnel(
        docs.select("doc_id", "text"),
        stages=(
            "gopher", "blocklist", "pii", "rewrite",
            "dedup", "neardup", "classify", "sample",
        ),
        # the corpus-discriminative stopword threshold the contract's
        # gopher query uses (the synthetic vocabulary carries one
        # required stopword, "the" — see _GOPHER_CONTRACT_MIN_REQ)
        min_required_stopwords=1,
        report=False,
        blockwords=["dup"],
        quality_model_path=model,
    )
    kept = curated.select(
        "doc_id", F.size(clean_words("text")).alias("n_words")
    )
    return (
        docs.select("doc_id", "lang")
        .join(kept, "doc_id")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_words").cast("long").alias("total_words"),
        )
        .orderBy("lang")
    )


@register("pipeline_curation_decontam")
def pipeline_curation_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 9-stage PRODUCTION funnel shape (r11 verdict item 8): the
    full composed chain of :func:`pipeline_curation_full` PLUS the
    opt-in ``decontam`` stage (added r11, previously benched only as a
    standalone plan) — gopher → blocklist → pii → rewrite → decontam →
    dedup → neardup → classify → sample as ONE lazy plan, so the
    complete chain a deployment actually runs has its own regression
    surface in bench/SCALING.

    The "benchmark suite" probe is a deterministic seeded 2% slice of
    the documents table (md5 unit-interval on doc_id — a pure row
    function, so the query is reproducible), run through the DEFAULT
    exact distinct-5-gram overlap decontam (broadcast probe shingle
    set, map-side corpus join — dedup.decontam_overlap). Rows-only by
    nature, like the 8-stage row."""
    from ..functions.hashing import md5_unit_interval
    from ..functions.text import clean_words
    from ..sources.readers import spread
    from .quality_model import train_quality_classifier

    ensure_utc(spark)
    docs = spread(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "lang", "text"
    )
    probe = docs.filter(
        md5_unit_interval("doc_id", seed="bench-probe") < 0.02
    ).select("doc_id", "text")
    sample = docs.filter(md5_unit_interval("doc_id", seed="qfull") < 0.2)
    labeled = sample.select(
        "doc_id",
        "text",
        (F.size(clean_words("text")) >= 30).cast("int").alias("label"),
    )
    model = train_quality_classifier(labeled)
    curated, _ = curation_funnel(
        docs.select("doc_id", "text"),
        stages=(
            "gopher", "blocklist", "pii", "rewrite", "decontam",
            "dedup", "neardup", "classify", "sample",
        ),
        min_required_stopwords=1,
        report=False,
        blockwords=["dup"],
        quality_model_path=model,
        decontam_probe=probe,
    )
    kept = curated.select(
        "doc_id", F.size(clean_words("text")).alias("n_words")
    )
    return (
        docs.select("doc_id", "lang")
        .join(kept, "doc_id")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_words").cast("long").alias("total_words"),
        )
        .orderBy("lang")
    )
