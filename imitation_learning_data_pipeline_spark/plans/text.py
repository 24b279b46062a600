"""Text-analysis plans over the documents table (BASELINE.json extension):
language ID, quality scoring, token counting, document fingerprinting.

All expressions live in functions/text.py and are pure built-ins; the
oracles mirror them fragment-for-fragment (shared regexes restricted to
the Java-regex ∩ RE2 common subset, identical rounding points).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import cache
from ..functions.rounding import quantize
from ..functions.text import (
    LANG_MARKERS,
    STOPWORDS,
    langid_pick,
    langid_scores,
    normalize_text,
    quality_features,
    clean_words,
    shingles_of_words,
)
from ..session import ensure_utc
from ..sources import load_table
from .dedup import _NORM_SQL, _W_SQL, _shingle_sql
from .registry import register


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.readers import spread

    ensure_utc(spark)
    # Heavy per-row regex/shingle work over a few-MB file: repartition to
    # all cores (see sources.readers.spread).
    return spread(load_table(spark, sf_dir, "documents"))


def _marker_count_sql(markers: list[str]) -> str:
    inlist = ", ".join(f"'{m}'" for m in markers)
    return f"len(list_filter({_W_SQL}, x -> x IN ({inlist})))"


def _langid_oracle() -> str:
    scores = {lang: f"s_{lang}" for lang in LANG_MARKERS}
    score_cols = ",\n       ".join(
        f"{_marker_count_sql(ms)} AS s_{lang}" for lang, ms in LANG_MARKERS.items()
    )
    langs = list(LANG_MARKERS)
    cases = []
    for i, lang in enumerate(langs):
        conds = [f"{scores[lang]} > 0"]
        for j, other in enumerate(langs):
            if other == lang:
                continue
            op = ">=" if j > i else ">"
            conds.append(f"{scores[lang]} {op} {scores[other]}")
        cases.append(f"WHEN {' AND '.join(conds)} THEN '{lang}'")
    case_sql = "\n            ".join(cases)
    return f"""
WITH scored AS (
  SELECT doc_id, text,
       {score_cols}
  FROM documents
)
SELECT doc_id,
       CASE WHEN regexp_matches(text, '[\\x{{4e00}}-\\x{{9fff}}]') THEN 'zh'
            {case_sql}
            ELSE 'und' END AS lang_pred
FROM scored
"""


@register("text_langid", oracle=_langid_oracle())
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language ID — the n-gram-heuristic family, zero UDF.

    Two projections: score columns first (normalize+split+filter runs once
    per doc), then the CASE over plain columns — avoids the HOF
    no-CSE re-evaluation cliff (see functions.text.langid_scores)."""
    docs = _docs(spark, sf_dir)
    scored = docs.select(
        "doc_id",
        *[expr.alias(name) for name, expr in langid_scores("text").items()],
    )
    scores = {lang: F.col(f"s_{lang}") for lang in LANG_MARKERS}
    return scored.select(
        "doc_id", langid_pick(F.col("is_cjk"), scores).alias("lang_pred")
    )


_FEATURE_SQL = f"""
  SELECT doc_id,
         CAST(length(text) AS BIGINT) AS n_chars,
         CAST(len({_W_SQL}) AS BIGINT) AS n_words,
         CAST(round(CAST(list_aggregate(list_transform({_W_SQL}, x -> length(x)), 'sum')
                 AS DOUBLE) / greatest(len({_W_SQL}), 1) * 10000) AS BIGINT)
           / 10000.0 AS mean_word_len,
         CAST(round(CAST(len(list_filter({_W_SQL},
                 x -> x IN ({", ".join(f"'{s}'" for s in STOPWORDS)})))
                 AS DOUBLE) / greatest(len({_W_SQL}), 1) * 10000) AS BIGINT)
           / 10000.0 AS stopword_ratio,
         CAST(round(CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
                 AS DOUBLE) / greatest(length(text), 1) * 10000) AS BIGINT)
           / 10000.0 AS digit_ratio,
         CAST(round(CAST(length(text) - length(regexp_replace(text, '[.!?,;:]', '', 'g'))
                 AS DOUBLE) / greatest(length(text), 1) * 10000) AS BIGINT)
           / 10000.0 AS punct_ratio
  FROM documents
"""


@register(
    "text_quality_score",
    oracle=f"""
WITH feats AS ({_FEATURE_SQL})
SELECT doc_id, n_chars, n_words, mean_word_len, stopword_ratio,
       digit_ratio, punct_ratio,
       CAST(round((2 * stopword_ratio + least(n_words, 100) / 100.0
             - 2 * digit_ratio - 2 * punct_ratio) * 10000) AS BIGINT)
         / 10000.0 AS quality_score,
       (n_words >= 10 AND mean_word_len BETWEEN 2 AND 12) AS is_good
FROM feats
""",
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic document-quality features + composite score.

    Score combines stopword density (fluent text has function words),
    length saturation, and digit/punct noise — the classic cheap quality
    filter for web-scale training corpora. One narrow projection per doc;
    trivially scan-bound at scale.
    """
    docs = _docs(spark, sf_dir)
    feats = docs.select("doc_id", *[
        expr.alias(name) for name, expr in quality_features("text").items()
    ])
    score = quantize(
        2 * F.col("stopword_ratio")
        + F.least(F.col("n_words"), F.lit(100)) / 100.0
        - 2 * F.col("digit_ratio")
        - 2 * F.col("punct_ratio"),
        4,
    )
    return feats.select(
        "doc_id",
        "n_chars",
        "n_words",
        "mean_word_len",
        "stopword_ratio",
        "digit_ratio",
        "punct_ratio",
        score.alias("quality_score"),
        (
            (F.col("n_words") >= 10) & F.col("mean_word_len").between(2, 12)
        ).alias("is_good"),
    )


@register(
    "text_token_count",
    oracle=f"""
SELECT doc_id,
       CAST(len({_W_SQL}) AS BIGINT) AS n_ws_tokens,
       CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[.!?,;:]'))
         AS BIGINT) AS n_regex_tokens,
       CAST(len(list_distinct(regexp_extract_all(lower(text), '[a-z0-9]+')))
         AS BIGINT) AS n_distinct_tokens,
       CAST(round(CAST(len(list_distinct(regexp_extract_all(lower(text), '[a-z0-9]+')))
                 AS DOUBLE)
             / greatest(len(regexp_extract_all(lower(text), '[a-z0-9]+')), 1)
             * 10000) AS BIGINT) / 10000.0
         AS type_token_ratio
FROM documents
""",
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace + BPE-ish regex token counts and type/token ratio."""
    docs = _docs(spark, sf_dir)
    low = F.lower(F.col("text"))
    ws = F.filter(F.split(normalize_text("text"), " "), lambda x: x != "")
    regex_toks = F.regexp_extract_all(low, F.lit("[a-z]+|[0-9]+|[.!?,;:]"), 0)
    alpha_toks = F.regexp_extract_all(low, F.lit("[a-z0-9]+"), 0)
    return docs.select(
        "doc_id",
        F.size(ws).cast("long").alias("n_ws_tokens"),
        F.size(regex_toks).cast("long").alias("n_regex_tokens"),
        F.size(F.array_distinct(alpha_toks)).cast("long").alias("n_distinct_tokens"),
        quantize(
            F.size(F.array_distinct(alpha_toks)).cast("double")
            / F.greatest(F.size(alpha_toks), F.lit(1)),
            4,
        ).alias("type_token_ratio"),
    )


_N_SKETCH = 3


def _fingerprint_oracle() -> str:
    mins = ",\n         ".join(
        f"min(md5('{i}|' || s)) AS fp{i}" for i in range(_N_SKETCH)
    )
    return f"""
WITH shingled AS (
  SELECT doc_id, unnest({_shingle_sql(5)}) AS s FROM documents
),
sketch AS (
  SELECT doc_id,
         {mins}
  FROM shingled GROUP BY doc_id
)
SELECT d.doc_id,
       md5({_NORM_SQL}) AS fp_full,
       s.fp0, s.fp1, s.fp2
FROM documents d LEFT JOIN sketch s ON d.doc_id = s.doc_id
"""


@register("text_fingerprint", oracle=_fingerprint_oracle())
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint: full content hash + k-min sketch over 5-word
    shingles (the rolling-hash / winnowing family: the sketch survives
    local edits that move content around, unlike fp_full).

    Reference analogue: the combined sha256 episode fingerprint
    (fp/fingerprint.py:37-38) — there a file-level identity, here a
    content-level near-identity."""
    docs = _docs(spark, sf_dir)
    sh = docs.select("doc_id", clean_words("text").alias("__w")).select(
        "doc_id", F.explode(shingles_of_words(F.col("__w"), 5)).alias("s")
    )
    sketch = sh.groupBy("doc_id").agg(
        *[
            F.min(F.md5(F.concat(F.lit(f"{i}|"), F.col("s")))).alias(f"fp{i}")
            for i in range(_N_SKETCH)
        ]
    )
    return docs.select(
        "doc_id", F.md5(normalize_text("text")).alias("fp_full")
    ).join(sketch, "doc_id", "left")


# --- curation scrubbing / segmentation (library surface; local-gate
# checked — the driver contract is capped at 50 queries) ---------------------

# Regexes restricted to the Java-regex ∩ RE2 common subset so the DuckDB
# oracle applies them verbatim. Deliberately simple pattern families —
# at corpus scale PII scrubbing is a regex cascade exactly like this,
# tuned per deployment.
_PII_PATTERNS = [
    ("email", r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}"),
    ("phone", r"\+?[0-9][0-9()\-\s]{7,}[0-9]"),
    ("ipv4", r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b"),
]


def _redact_sql() -> str:
    expr = "text"
    for name, pat in _PII_PATTERNS:
        # DuckDB regexp_replace with 'g' flag; escape single quotes
        p = pat.replace("\\", "\\\\") if False else pat
        expr = f"regexp_replace({expr}, '{p}', '<{name.upper()}>', 'g')"
    return f"""
SELECT doc_id,
       {expr} AS clean_text,
       CAST(len(regexp_extract_all(text, '{_PII_PATTERNS[0][1]}')) AS BIGINT)
         AS n_emails,
       CAST(len(regexp_extract_all(text, '{_PII_PATTERNS[2][1]}')) AS BIGINT)
         AS n_ipv4
FROM documents
"""


@register("text_redact_pii", oracle=_redact_sql())
def text_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing: regex-cascade redaction of emails / phone numbers /
    IPv4 literals plus per-doc hit counts — the standard pre-training
    scrub pass. Pure JVM regexp_replace chain; scan-bound at scale."""
    docs = _docs(spark, sf_dir)
    clean = F.col("text")
    for name, pat in _PII_PATTERNS:
        clean = F.regexp_replace(clean, pat, f"<{name.upper()}>")
    return docs.select(
        "doc_id",
        clean.alias("clean_text"),
        F.size(F.regexp_extract_all("text", F.lit(_PII_PATTERNS[0][1]), 0))
        .cast("long")
        .alias("n_emails"),
        F.size(F.regexp_extract_all("text", F.lit(_PII_PATTERNS[2][1]), 0))
        .cast("long")
        .alias("n_ipv4"),
    )


def _gram_sql(n: int) -> str:
    """DuckDB expression for positional word n-grams WITH duplicates
    (repetition measurement needs multiplicity; contrast
    dedup._shingle_sql, which is distinct by design)."""
    if n == 1:
        return _W_SQL
    return (
        f"list_filter(list_transform("
        f"range(1, greatest(len({_W_SQL}) - {n - 2}, 1)), "
        f"i -> array_to_string(({_W_SQL})[i:i+{n - 1}], ' ')), x -> x <> '')"
    )


def _repetition_oracle() -> str:
    gram_rows = "\n  UNION ALL\n  ".join(
        f"SELECT doc_id, {n} AS n, unnest({_gram_sql(n)}) AS g FROM documents"
        for n in (1, 2, 3)
    )
    return f"""
WITH grams AS (
  {gram_rows}
),
counted AS (
  SELECT doc_id, n, g, count(*) AS cnt FROM grams GROUP BY doc_id, n, g
),
agg AS (
  SELECT doc_id,
         coalesce(sum(cnt)   FILTER (WHERE n = 1), 0) AS total1,
         coalesce(count(*)   FILTER (WHERE n = 1), 0) AS distinct1,
         coalesce(sum(cnt)   FILTER (WHERE n = 2), 0) AS total2,
         coalesce(max(cnt)   FILTER (WHERE n = 2), 0) AS max2,
         coalesce(sum(cnt)   FILTER (WHERE n = 3), 0) AS total3,
         coalesce(sum(cnt)   FILTER (WHERE n = 3 AND cnt > 1), 0) AS dup3
  FROM counted GROUP BY doc_id
)
SELECT doc_id,
       CAST(total1 AS BIGINT) AS n_words,
       CAST(round(CAST(total1 - distinct1 AS DOUBLE) / greatest(total1, 1)
            * 10000) AS BIGINT) / 10000.0 AS word_rep_frac,
       CAST(round(CAST(max2 AS DOUBLE) / greatest(total2, 1) * 10000)
            AS BIGINT) / 10000.0 AS top_2gram_frac,
       CAST(round(CAST(dup3 AS DOUBLE) / greatest(total3, 1) * 10000)
            AS BIGINT) / 10000.0 AS dup_3gram_frac
FROM agg
"""


@register("text_repetition_stats", oracle=_repetition_oracle())
def text_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals per document: repeated-word
    fraction, most-frequent-2-gram mass, duplicated-3-gram mass — the
    filters that catch boilerplate and template spam in web-scale corpora
    (Rae et al. 2021, "Scaling Language Models", table A1 family).

    Plan shape: ONE explode emits (doc_id, n, gram) rows for n=1,2,3
    together (arrays concatenated before the generator), then two
    hash-aggregates — gram multiplicity, then per-doc conditional sums —
    both map-side-combinable and keyed on doc_id, so the whole query is
    a single logical shuffle chain. Every output ratio is a quotient of
    small exact integers rounded identically on both engines.
    """
    docs = _docs(spark, sf_dir)
    base = docs.select("doc_id", clean_words("text").alias("__w"))

    def tag(n: int, arr):
        return F.transform(
            arr, lambda x: F.struct(F.lit(n).alias("n"), x.alias("g"))
        )

    grams = base.select(
        "doc_id",
        F.explode(
            F.concat(
                tag(1, F.col("__w")),
                tag(2, shingles_of_words(F.col("__w"), 2)),
                tag(3, shingles_of_words(F.col("__w"), 3)),
            )
        ).alias("gr"),
    ).select("doc_id", F.col("gr.n").alias("n"), F.col("gr.g").alias("g"))
    counted = grams.groupBy("doc_id", "n", "g").agg(F.count("*").alias("cnt"))

    def csum(cond, col):
        return F.coalesce(F.sum(F.when(cond, col)), F.lit(0))

    n1 = F.col("n") == 1
    n2 = F.col("n") == 2
    n3 = F.col("n") == 3
    agg = counted.groupBy("doc_id").agg(
        csum(n1, F.col("cnt")).alias("total1"),
        F.coalesce(F.count(F.when(n1, F.lit(1))), F.lit(0)).alias("distinct1"),
        csum(n2, F.col("cnt")).alias("total2"),
        F.coalesce(F.max(F.when(n2, F.col("cnt"))), F.lit(0)).alias("max2"),
        csum(n3, F.col("cnt")).alias("total3"),
        csum(n3 & (F.col("cnt") > 1), F.col("cnt")).alias("dup3"),
    )
    return agg.select(
        "doc_id",
        F.col("total1").cast("long").alias("n_words"),
        quantize(
            (F.col("total1") - F.col("distinct1")).cast("double")
            / F.greatest(F.col("total1"), F.lit(1)),
            4,
        ).alias("word_rep_frac"),
        quantize(
            F.col("max2").cast("double") / F.greatest(F.col("total2"), F.lit(1)), 4
        ).alias("top_2gram_frac"),
        quantize(
            F.col("dup3").cast("double") / F.greatest(F.col("total3"), F.lit(1)), 4
        ).alias("dup_3gram_frac"),
    )


@register(
    "text_topk_ngrams",
    oracle=f"""
WITH grams AS (
  SELECT unnest({_gram_sql(2)}) AS gram FROM documents
),
counted AS (
  SELECT gram, CAST(count(*) AS BIGINT) AS n_occurrences
  FROM grams GROUP BY gram
),
ranked AS (
  SELECT gram, n_occurrences,
         row_number() OVER (ORDER BY n_occurrences DESC, gram) AS rank
  FROM counted
)
SELECT gram, n_occurrences, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 20
""",
)
def text_topk_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level most-frequent 2-grams — the vocabulary/boilerplate
    census a curation pass runs before choosing filters.

    Scale shape: explode → hash-agg with map-side combine → global top-k
    via orderBy+limit (TakeOrderedAndProject: each partition keeps its
    local top-20, the driver merges 20·P rows — never a full sort). The
    rank column is attached AFTER the limit, so the window sorts 20 rows,
    not the vocabulary.
    """
    docs = _docs(spark, sf_dir)
    top = (
        docs.select("doc_id", clean_words("text").alias("__w"))
        .select(F.explode(shingles_of_words(F.col("__w"), 2)).alias("gram"))
        .groupBy("gram")
        .agg(F.count("*").alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), "gram")
        .limit(20)
    )
    from pyspark.sql.window import Window

    w = Window.orderBy(F.col("n_occurrences").desc(), "gram")
    return top.select(
        "gram",
        "n_occurrences",
        F.row_number().over(w).cast("long").alias("rank"),
    )


@register(
    "text_sentence_stats",
    oracle="""
WITH sents AS (
  SELECT doc_id,
         list_filter(list_transform(string_split_regex(text, '[.!?]+'),
                                    s -> trim(s)), s -> s <> '') AS ss
  FROM documents
)
SELECT doc_id,
       CAST(len(ss) AS BIGINT) AS n_sentences,
       CAST(round(CAST(list_aggregate(list_transform(ss, s -> length(s)), 'sum')
               AS DOUBLE) / greatest(len(ss), 1) * 10000) AS BIGINT)
         / 10000.0 AS mean_sentence_chars,
       CAST(list_aggregate(list_transform(ss, s -> length(s)), 'max')
         AS BIGINT) AS max_sentence_chars
FROM sents
""",
)
def text_sentence_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence segmentation stats (terminal-punctuation split): sentence
    count, mean/max sentence length — the document-structure features
    quality filters key on (wall-of-text and one-liner detection)."""
    docs = _docs(spark, sf_dir)
    ss = F.filter(
        F.transform(F.split(F.col("text"), "[.!?]+"), lambda s: F.trim(s)),
        lambda s: s != "",
    )
    docs2 = docs.select("doc_id", ss.alias("__ss"))
    lens = F.transform(F.col("__ss"), lambda s: F.length(s))
    return docs2.select(
        "doc_id",
        F.size("__ss").cast("long").alias("n_sentences"),
        quantize(
            F.aggregate(lens, F.lit(0), lambda a, x: a + x).cast("double")
            / F.greatest(F.size("__ss"), F.lit(1)),
            4,
        ).alias("mean_sentence_chars"),
        F.array_max(lens).cast("long").alias("max_sentence_chars"),
    )


# --- document chunking -------------------------------------------------------

_CHUNK_TOKENS = 64  # tokens per chunk
_CHUNK_STRIDE = 48  # stride between chunk starts (overlap = 64 - 48)


def chunk_documents(
    docs: DataFrame,
    max_tokens: int = _CHUNK_TOKENS,
    stride: int = _CHUNK_STRIDE,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Split documents into overlapping fixed-size token chunks — the
    context-window/RAG preprocessing every retrieval corpus runs:
    ``(id, chunk_id, start_token, n_tokens, chunk_text)`` with chunk
    starts at 0, stride, 2·stride, … (``overlap = max_tokens − stride``)
    and the final chunk truncated at the document end.

    Start set: every multiple of ``stride`` that is < n OR starts the
    only chunk of an empty-tail doc — i.e. ``ceil(max(n−max_tokens,0)/
    stride)+1`` chunks, so the last chunk always reaches the final
    token and no start begins past it (the trajectory_windows coverage
    rule applied to text).

    Scale shape: tokenization + ``sequence()`` + explode + ``slice``
    are all map-side array expressions — zero shuffles, zero UDFs; the
    output feeds pack_sequences/export_shards for layout. Empty docs
    yield no chunks.
    """
    if stride <= 0 or max_tokens <= 0 or stride > max_tokens:
        raise ValueError("chunk_documents: need 0 < stride <= max_tokens")
    from ..functions.text import clean_words

    w = docs.select(
        F.col(id_col), clean_words(text_col).alias("__w")
    ).withColumn("__n", F.size("__w"))
    # last start = stride * ceil(max(n - max_tokens, 0) / stride)
    last = F.lit(stride) * F.ceil(
        F.greatest(F.col("__n") - max_tokens, F.lit(0)) / stride
    ).cast("long")
    chunks = (
        w.filter(F.col("__n") > 0)
        .withColumn("start_token", F.explode(F.sequence(F.lit(0), last, F.lit(stride))))
        .withColumn(
            "n_tokens",
            F.least(F.lit(max_tokens), F.col("__n") - F.col("start_token")),
        )
    )
    return chunks.select(
        id_col,
        (F.col("start_token") / stride).cast("long").alias("chunk_id"),
        F.col("start_token").cast("long").alias("start_token"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.array_join(
            F.slice("__w", F.col("start_token") + 1, F.col("n_tokens")), " "
        ).alias("chunk_text"),
    )


@register(
    "text_chunk_documents",
    oracle=f"""
WITH w AS (
  SELECT doc_id, {_W_SQL} AS ws, len({_W_SQL}) AS n FROM documents
),
s AS (
  SELECT doc_id, ws, n,
         unnest(range(0, {_CHUNK_STRIDE} * CAST(ceil(greatest(n - {_CHUNK_TOKENS}, 0)
                / {_CHUNK_STRIDE}.0) AS BIGINT) + 1, {_CHUNK_STRIDE})) AS start_token
  FROM w WHERE n > 0
)
SELECT doc_id,
       CAST(start_token / {_CHUNK_STRIDE} AS BIGINT) AS chunk_id,
       CAST(start_token AS BIGINT) AS start_token,
       CAST(least({_CHUNK_TOKENS}, n - start_token) AS BIGINT) AS n_tokens,
       array_to_string(
         ws[start_token + 1 : start_token + least({_CHUNK_TOKENS}, n - start_token)],
         ' ') AS chunk_text
FROM s
""",
)
def text_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Library/oracle wrapper: overlapping 64-token chunks (stride 48)
    of every document — start offsets, token counts, and the exact
    chunk text, hash-checked against DuckDB's list-slicing."""
    return chunk_documents(_docs(spark, sf_dir))


# --- Gopher-style quality-rule filter (library → contract surface) ----------
#
# The composite rule set from the public Gopher paper (Rae et al. 2021,
# "Scaling Language Models", table A1) — the de-facto standard cheap
# quality gate run before LLM pretraining. Each rule is a named boolean
# over per-document features; `keep` is their conjunction. All features
# are map-side built-in expressions: the word-level ones are scalar
# functions of the text, only the two per-line ones are lambdas (HOFs
# are CodegenFallback with no CSE — see langid_scores and gopher_rules).
#
# Thresholds are the published ones: 50 ≤ words ≤ 100k, 3 ≤ mean word
# length ≤ 10, symbol-to-word ratio (# and ...) ≤ 0.1, ≤ 90% bullet
# lines, ≤ 30% ellipsis lines, ≥ 80% words with an alphabetic char, and
# ≥ 2 distinct required stopwords present. Rule booleans compare the RAW
# (unrounded) ratios — integer-count quotients are bit-identical across
# engines — while the displayed ratio columns round to 4 decimals.

_GOPHER_REQ_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]

#: The contract query lowers the published ≥2 required-stopword
#: threshold to ≥1: the synthetic corpus vocabulary contains at most ONE
#: of the Gopher stopword set per document (measured at sf0.01), so the
#: paper's threshold would make r_stopwords — and therefore ``keep`` —
#: constant-false and the rule undiscriminating. The operator default
#: stays at the published value.
_GOPHER_CONTRACT_MIN_REQ = 1

#: raw whitespace tokens (NOT the normalized clean_words: mean word
#: length and the alpha-word rule are defined over surface forms).
#: Explicit [ \t\n\r] class — the Java-regex ∩ RE2 common subset of \s.
_RAWW_SQL = r"list_filter(string_split_regex(text, '[ \t\n\r]+'), x -> x <> '')"


def _gopher_oracle() -> str:
    req = ", ".join(f"'{s}'" for s in _GOPHER_REQ_STOPWORDS)
    return f"""
WITH arr AS (
  SELECT doc_id,
         {_RAWW_SQL} AS w,
         {_W_SQL} AS cw,
         string_split(text, chr(10)) AS lines,
         CAST(length(text) - length(replace(text, '#', '')) AS BIGINT)
           + CAST((length(text) - length(replace(text, '...', ''))) / 3 AS BIGINT)
           AS n_sym
  FROM documents
),
feats AS (
  SELECT doc_id,
         CAST(len(w) AS BIGINT) AS n_words,
         CAST(coalesce(list_aggregate(list_transform(w, x -> length(x)), 'sum'), 0)
              AS DOUBLE) / greatest(len(w), 1) AS mean_word_len_raw,
         CAST(n_sym AS DOUBLE) / greatest(len(w), 1) AS symbol_ratio_raw,
         CAST(len(list_filter(lines, l -> regexp_matches(trim(l), '^[-*]')))
              AS DOUBLE) / greatest(len(lines), 1) AS bullet_frac_raw,
         CAST(len(list_filter(lines, l -> ends_with(trim(l), '...')))
              AS DOUBLE) / greatest(len(lines), 1) AS ellipsis_frac_raw,
         CAST(len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]')))
              AS DOUBLE) / greatest(len(w), 1) AS alpha_frac_raw,
         CAST(len(list_filter([{req}], s -> list_contains(cw, s)))
              AS BIGINT) AS n_req_stopwords
  FROM arr
)
SELECT doc_id, n_words,
       CAST(round(mean_word_len_raw * 10000) AS BIGINT) / 10000.0
         AS mean_word_len,
       CAST(round(symbol_ratio_raw * 10000) AS BIGINT) / 10000.0
         AS symbol_word_ratio,
       CAST(round(bullet_frac_raw * 10000) AS BIGINT) / 10000.0
         AS bullet_line_frac,
       CAST(round(ellipsis_frac_raw * 10000) AS BIGINT) / 10000.0
         AS ellipsis_line_frac,
       CAST(round(alpha_frac_raw * 10000) AS BIGINT) / 10000.0
         AS alpha_word_frac,
       n_req_stopwords,
       (n_words BETWEEN 50 AND 100000) AS r_word_count,
       (mean_word_len_raw >= 3 AND mean_word_len_raw <= 10) AS r_mean_word_len,
       (symbol_ratio_raw <= 0.1) AS r_symbol_ratio,
       (bullet_frac_raw <= 0.9) AS r_bullet_lines,
       (ellipsis_frac_raw <= 0.3) AS r_ellipsis_lines,
       (alpha_frac_raw >= 0.8) AS r_alpha_words,
       (n_req_stopwords >= {_GOPHER_CONTRACT_MIN_REQ}) AS r_stopwords,
       (n_words BETWEEN 50 AND 100000
        AND mean_word_len_raw >= 3 AND mean_word_len_raw <= 10
        AND symbol_ratio_raw <= 0.1
        AND bullet_frac_raw <= 0.9
        AND ellipsis_frac_raw <= 0.3
        AND alpha_frac_raw >= 0.8
        AND n_req_stopwords >= {_GOPHER_CONTRACT_MIN_REQ}) AS keep
FROM feats
"""


def gopher_rules(
    docs: DataFrame,
    min_required_stopwords: int = 2,
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """Gopher quality-rule features + per-rule booleans for ANY
    ``(doc_id, text)`` frame.

    Scale shape: a pure per-row projection — no shuffle, no UDF. The
    word-level features are SCALAR expressions of ``text`` (regex
    counts, one whitespace-stripped length, one stopword
    ``array_intersect``), not lambdas over a projected word array:
    a caller's ``filter("keep")`` is pushed below these projections and
    Catalyst inlines every alias into the predicate, and higher-order
    lambdas are excluded from subexpression elimination — so an array
    feature is re-evaluated once per reference (the word-array form
    re-split each page ~9 times and re-ran ``clean_words`` once per
    required stopword inside the curation funnel's Filter). Only the two
    per-LINE features stay lambdas. Keep them: removing them too lets
    the Filter be whole-stage-codegen'd, and the codegen'd Filter
    re-runs every inlined feature where the interpreted one shares
    them — measured slower. Scan-bound at any corpus size; composes
    with the curation cascade as the cheapest first gate.
    ``passthrough`` carries input columns (e.g. the text itself) into
    the output so a cascade can ``filter("keep")`` in ONE plan branch
    instead of deriving a keep-set and joining it back (two scans of
    the upstream chain).
    """
    text = F.col("text")
    arr = docs.select(
        "doc_id",
        *passthrough,
        # a word is a maximal run outside the [ \t\n\r] class
        F.regexp_count(text, F.lit("[^ \t\n\r]+")).alias("nw_raw"),
        F.coalesce(
            F.length(F.regexp_replace(text, "[ \t\n\r]", "")), F.lit(0)
        ).alias("word_chars"),
        F.regexp_count(
            text, F.lit("[^ \t\n\r]*[A-Za-z][^ \t\n\r]*")
        ).alias("n_alpha"),
        F.coalesce(
            F.size(
                F.array_intersect(
                    F.array(*[F.lit(s) for s in _GOPHER_REQ_STOPWORDS]),
                    clean_words(text),
                )
            ),
            F.lit(0),
        ).alias("n_req"),
        F.split(text, "\n").alias("lines"),
        (
            (F.length("text") - F.length(F.expr("replace(text, '#', '')")))
            .cast("long")
            + (
                (F.length("text") - F.length(F.expr("replace(text, '...', '')")))
                / 3
            ).cast("long")
        ).alias("n_sym"),
    )
    nw = F.greatest(F.col("nw_raw"), F.lit(1))
    nl = F.greatest(F.size("lines"), F.lit(1))
    feats = arr.select(
        "doc_id",
        *passthrough,
        F.col("nw_raw").cast("long").alias("n_words"),
        (F.col("word_chars").cast("double") / nw).alias("mean_word_len_raw"),
        (F.col("n_sym").cast("double") / nw).alias("symbol_ratio_raw"),
        (
            F.size(F.filter("lines", lambda l: F.trim(l).rlike("^[-*]")))
            .cast("double")
            / nl
        ).alias("bullet_frac_raw"),
        (
            F.size(F.filter("lines", lambda l: F.trim(l).endswith("...")))
            .cast("double")
            / nl
        ).alias("ellipsis_frac_raw"),
        (F.col("n_alpha").cast("double") / nw).alias("alpha_frac_raw"),
        F.col("n_req").cast("long").alias("n_req_stopwords"),
    )
    r_wc = F.col("n_words").between(50, 100000)
    r_mwl = (F.col("mean_word_len_raw") >= 3) & (F.col("mean_word_len_raw") <= 10)
    r_sym = F.col("symbol_ratio_raw") <= 0.1
    r_bul = F.col("bullet_frac_raw") <= 0.9
    r_ell = F.col("ellipsis_frac_raw") <= 0.3
    r_alpha = F.col("alpha_frac_raw") >= 0.8
    r_stop = F.col("n_req_stopwords") >= min_required_stopwords
    return feats.select(
        "doc_id",
        *passthrough,
        "n_words",
        quantize("mean_word_len_raw", 4).alias("mean_word_len"),
        quantize("symbol_ratio_raw", 4).alias("symbol_word_ratio"),
        quantize("bullet_frac_raw", 4).alias("bullet_line_frac"),
        quantize("ellipsis_frac_raw", 4).alias("ellipsis_line_frac"),
        quantize("alpha_frac_raw", 4).alias("alpha_word_frac"),
        "n_req_stopwords",
        r_wc.alias("r_word_count"),
        r_mwl.alias("r_mean_word_len"),
        r_sym.alias("r_symbol_ratio"),
        r_bul.alias("r_bullet_lines"),
        r_ell.alias("r_ellipsis_lines"),
        r_alpha.alias("r_alpha_words"),
        r_stop.alias("r_stopwords"),
        (r_wc & r_mwl & r_sym & r_bul & r_ell & r_alpha & r_stop).alias("keep"),
    )


@register("text_gopher_rules", oracle=_gopher_oracle())
def text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract wrapper: the Gopher rule set over the documents table
    (stopword threshold lowered to the corpus-discriminative value —
    see _GOPHER_CONTRACT_MIN_REQ)."""
    return gopher_rules(
        _docs(spark, sf_dir),
        min_required_stopwords=_GOPHER_CONTRACT_MIN_REQ,
    )


# --- BM25 top-k retrieval (round-9) -----------------------------------------
#
# The standard Okapi BM25 ranking function (Robertson & Zaragoza 2009;
# the Lucene-default +1 idf smoothing) over the corpus, for a fixed
# query term list. Shapes for 100 TB: term-frequency extraction is a
# map-side projection over ONE clean_words materialization; the corpus
# statistics (N, avgdl, per-term document frequency) are one
# map-side-combinable global aggregate whose result is a SINGLE row,
# broadcast back into the scoring projection — no driver collect, no
# second scan shape beyond the rescan Catalyst plans for the 1-row agg.
# Top-k is TakeOrdered (per-partition heap + driver merge of k), never
# a global sort.

_BM25_K1 = 1.2
_BM25_B = 0.75


def bm25_topk(
    docs: DataFrame,
    query_terms: list[str],
    k: int = 20,
    k1: float = _BM25_K1,
    b: float = _BM25_B,
) -> DataFrame:
    """BM25 scores for ``query_terms`` over ANY ``(doc_id, text)``
    frame → the ``k`` best (doc_id, bm25) rows, score-descending with
    doc_id tiebreak. Scores are rounded to 4 decimals BEFORE ordering
    so the cut is deterministic across engines; zero-score documents
    (no query term present) never rank."""
    if not query_terms:
        raise ValueError("bm25_topk: empty query")
    words = docs.select("doc_id", clean_words("text").alias("w"))

    def _eq(term):
        # closure factory, NOT a default arg: a second lambda parameter
        # would make pyspark bind it to the array INDEX
        return lambda x: x == F.lit(term)

    base_cols = [F.size("w").cast("double").alias("dl")]
    for i, t in enumerate(query_terms):
        base_cols.append(
            F.size(F.filter("w", _eq(t))).cast("double").alias(f"tf_{i}")
        )
    # r15 probe: persisting `base` (both the stats and scoring branch
    # consume it) was MEASURED SLOWER at driver SFs — cache
    # materialization costs more than recomputing the split+tf
    # projection (0.92 vs 0.58 CPU-s same-session) — so the recompute
    # shape is kept deliberately; see SCALING.md r15 #2.
    base = words.select("doc_id", *base_cols)
    aggs = [
        F.count(F.lit(1)).cast("double").alias("n"),
        F.avg("dl").alias("avgdl"),
    ]
    for i in range(len(query_terms)):
        aggs.append(
            F.sum((F.col(f"tf_{i}") > 0).cast("double")).alias(f"df_{i}")
        )
    stats = base.groupBy().agg(*aggs)
    scored = base.crossJoin(F.broadcast(stats))
    score = F.lit(0.0)
    for i in range(len(query_terms)):
        tf = F.col(f"tf_{i}")
        df = F.col(f"df_{i}")
        idf = F.log((F.col("n") - df + 0.5) / (df + 0.5) + 1.0)
        score = score + idf * tf * (k1 + 1.0) / (
            tf + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
        )
    return (
        scored.select("doc_id", quantize(score, 4).alias("bm25"))
        .filter(F.col("bm25") > 0)
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(k)
    )


#: fixed query for the library row — three mid-frequency vocabulary
#: terms of the synthetic documents table
_BM25_QUERY = ["vector", "window", "stream"]


def _bm25_oracle() -> str:
    tf_defs = ",\n         ".join(
        f"CAST(len(list_filter(w, x -> x = '{t}')) AS DOUBLE) AS tf_{i}"
        for i, t in enumerate(_BM25_QUERY)
    )
    df_defs = ",\n         ".join(
        f"CAST(sum(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_{i}"
        for i in range(len(_BM25_QUERY))
    )
    parts = " + ".join(
        f"ln((n - df_{i} + 0.5) / (df_{i} + 0.5) + 1.0) * tf_{i} * "
        f"{_BM25_K1 + 1.0} / (tf_{i} + {_BM25_K1} * "
        f"(1.0 - {_BM25_B} + {_BM25_B} * dl / avgdl))"
        for i in range(len(_BM25_QUERY))
    )
    return f"""
WITH w AS (
  SELECT doc_id, {_W_SQL} AS w FROM documents
),
base AS (
  SELECT doc_id, CAST(len(w) AS DOUBLE) AS dl,
         {tf_defs}
  FROM w
),
stats AS (
  SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl,
         {df_defs}
  FROM base
)
SELECT * FROM (
  SELECT doc_id, CAST(round(({parts}) * 10000) AS BIGINT) / 10000.0 AS bm25
  FROM base, stats
)
WHERE bm25 > 0
ORDER BY bm25 DESC, doc_id
LIMIT 20
"""


@register("text_bm25_topk", oracle=_bm25_oracle())
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Library wrapper: BM25 top-20 for a fixed three-term query over
    the documents table, hash-checked against DuckDB computing the
    identical formula."""
    return bm25_topk(_docs(spark, sf_dir), _BM25_QUERY)


# --- PII scrubbing (round-9) ------------------------------------------------
#
# The standard pretraining-curation redaction pass (the C4/RefinedWeb
# recipe): replace emails, IPv4 addresses, and international-prefixed
# phone numbers with typed placeholders, and report per-document match
# counts. Pure map-side regexp work — no shuffle, no UDF; the patterns
# stay inside the Java-regex ∩ RE2 common subset (character classes +
# bounded quantifiers, no alternation/lookaround) so the DuckDB oracle
# replaces byte-identically.

_PII_EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z][A-Za-z]+"
_PII_IPV4 = "([0-9]{1,3}[.]){3}[0-9]{1,3}"
#: only +-prefixed runs: a bare digit-run pattern would eat ordinary
#: numbers (years, quantities) — precision over recall, the same trade
#: the published pipelines make
_PII_PHONE = "[+][0-9][0-9() -]{6,}[0-9]"


def pii_scrub(docs: DataFrame) -> DataFrame:
    """(doc_id, text) → (doc_id, n_emails, n_ipv4, n_phones,
    text_clean): typed-placeholder redaction with counts from the
    ORIGINAL text. Scrub order email → ipv4 → phone on the
    progressively cleaned string, so one span is never double-counted
    by a later pattern."""
    counted = docs.select(
        "doc_id",
        "text",
        F.size(F.regexp_extract_all("text", F.lit(_PII_EMAIL), 0)).alias(
            "n_emails"
        ),
        F.size(F.regexp_extract_all("text", F.lit(_PII_IPV4), 0)).alias(
            "n_ipv4"
        ),
        F.size(F.regexp_extract_all("text", F.lit(_PII_PHONE), 0)).alias(
            "n_phones"
        ),
    )
    cleaned = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("text"), _PII_EMAIL, "<EMAIL>"),
            _PII_IPV4,
            "<IP>",
        ),
        _PII_PHONE,
        "<PHONE>",
    )
    return counted.select(
        "doc_id", "n_emails", "n_ipv4", "n_phones", cleaned.alias("text_clean")
    )


@register(
    "text_pii_scrub",
    oracle=f"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{_PII_EMAIL}')) AS BIGINT)
         AS n_emails,
       CAST(len(regexp_extract_all(text, '{_PII_IPV4}')) AS BIGINT)
         AS n_ipv4,
       CAST(len(regexp_extract_all(text, '{_PII_PHONE}')) AS BIGINT)
         AS n_phones,
       md5(regexp_replace(
             regexp_replace(
               regexp_replace(text, '{_PII_EMAIL}', '<EMAIL>', 'g'),
               '{_PII_IPV4}', '<IP>', 'g'),
             '{_PII_PHONE}', '<PHONE>', 'g')) AS scrub_md5
FROM documents
""",
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Library wrapper: PII redaction over the documents table. The
    scrubbed text ships as an md5 digest so the oracle checks the
    REPLACEMENT bytes, not just the counts. (The synthetic corpus
    carries no planted PII — the discriminating fixtures live in
    pytest:TestPiiScrub; this row checks cross-engine regex parity.)"""
    out = pii_scrub(_docs(spark, sf_dir))
    return out.select(
        "doc_id",
        F.col("n_emails").cast("long").alias("n_emails"),
        F.col("n_ipv4").cast("long").alias("n_ipv4"),
        F.col("n_phones").cast("long").alias("n_phones"),
        F.md5("text_clean").alias("scrub_md5"),
    )


# --- heavy hitters: exact frequent n-grams without a vocabulary shuffle ------
#
# The boilerplate census a 100 TB curation pass actually needs: every
# n-gram whose corpus frequency is >= min_frac of all n-gram occurrences
# (navigation chrome, license headers, template sentences). The naive
# plan (explode -> groupBy(gram)) shuffles the ENTIRE distinct
# vocabulary — at web scale that is billions of keys and the shuffle IS
# the job. This operator never shuffles the vocabulary and is still
# EXACT:
#
#   1. candidate pass — one corpus scan; each partition folds its n-gram
#      stream into a Misra-Gries summary of k = floor(1/min_frac)+1
#      counters (mergeable-summaries guarantee, Agarwal et al. 2012:
#      any item with partition-relative frequency > 1/(k+1) survives).
#      An averaging argument lifts this to the corpus: a gram with
#      global relative frequency >= min_frac > 1/(k+1) has at least one
#      partition where its LOCAL relative frequency is >= its global
#      one (if c_p/N_p < c/N for every p then c = sum c_p < c), so every
#      true heavy hitter appears in >= 1 partition summary. Each
#      partition also emits its stream length, so the same pass yields
#      the exact total N.
#   2. verify pass — candidates (<= k rows per partition) are collected
#      driver-side (metadata-sized by construction), broadcast into an
#      isin prefilter, and ONLY candidate occurrences are recounted
#      exactly and thresholded at ceil(min_frac * N). False positives
#      from step 1 die here; false negatives cannot exist (step 1).
#
# Cost shape: two corpus scans, shuffle bounded by (#partitions * k)
# candidate rows + the recount's candidate-only aggregate — independent
# of vocabulary size. The inner MG fold is Arrow-batched: each batch is
# pre-aggregated with pandas value_counts (vectorized) and merged into
# the running summary in O(k log k), never a per-token Python loop.


def misra_gries_candidates(
    grams: DataFrame, k: int, gram_col: str = "gram"
) -> DataFrame:
    """Per-partition Misra-Gries summaries of the ``gram_col`` stream:
    rows (gram, weight) per partition plus one (NULL, stream_length)
    row per partition. ``weight`` is the MG lower bound (diagnostic
    only — the verify pass recounts exactly)."""
    import pandas as pd

    def fold(batches):
        counters: dict[str, int] = {}
        total = 0
        for pdf in batches:
            vc = pdf[gram_col].value_counts()
            total += int(vc.sum())
            for g, c in vc.items():
                counters[g] = counters.get(g, 0) + int(c)
            if len(counters) > k:
                # mergeable-MG step: subtract the (k+1)-th largest
                # count from everyone, drop the non-positive
                cut = sorted(counters.values(), reverse=True)[k]
                counters = {
                    g: c - cut for g, c in counters.items() if c > cut
                }
        yield pd.DataFrame(
            {
                gram_col: list(counters) + [None],
                "weight": list(counters.values()) + [total],
            }
        )

    return grams.mapInPandas(fold, f"`{gram_col}` string, weight long")


def heavy_hitter_ngrams(
    df: DataFrame,
    text_col: str = "text",
    n: int = 2,
    min_frac: float = 0.001,
    max_candidates: int = 2_000_000,
) -> DataFrame:
    """Exact (gram, n_occurrences) for every word ``n``-gram with
    corpus frequency >= ceil(min_frac * total n-gram occurrences),
    computed without shuffling the vocabulary (module comment above).

    ``max_candidates`` is a driver-memory guard: the candidate set is
    bounded by #partitions * (floor(1/min_frac)+1) by construction;
    if a caller picks a min_frac so small that the bound exceeds this,
    raise rather than collect an unbounded list.
    """
    if not (0 < min_frac < 1):
        raise ValueError("heavy_hitter_ngrams: min_frac must be in (0,1)")
    k = int(1.0 / min_frac) + 1
    spark = df.sparkSession
    grams = df.select(
        F.explode(
            shingles_of_words(clean_words(F.col(text_col)), n)
        ).alias("gram")
    )
    n_parts = grams.rdd.getNumPartitions()
    if n_parts * k > max_candidates:
        raise ValueError(
            f"heavy_hitter_ngrams: candidate bound {n_parts}*{k} exceeds "
            f"max_candidates={max_candidates}; raise min_frac or coalesce"
        )
    summaries = misra_gries_candidates(grams, k).collect()
    total = sum(r.weight for r in summaries if r.gram is None)
    cands = list({r.gram for r in summaries if r.gram is not None})
    threshold = -(-min_frac * total // 1)  # ceil, driver-side float ok
    if not cands or total == 0:
        return spark.createDataFrame(
            [], "gram string, n_occurrences long"
        )
    cand_df = F.broadcast(
        spark.createDataFrame([(c,) for c in cands], "gram string")
    )
    return (
        grams.join(cand_df, "gram", "left_semi")
        .groupBy("gram")
        .agg(F.count("*").alias("n_occurrences"))
        .filter(F.col("n_occurrences") >= F.lit(int(threshold)))
    )


_HH_FRAC = 0.001


@register(
    "text_heavy_hitters",
    oracle=f"""
WITH grams AS (
  SELECT unnest({{gram2}}) AS gram FROM documents
),
tot AS (SELECT count(*) AS n FROM grams),
counted AS (
  SELECT gram, CAST(count(*) AS BIGINT) AS n_occurrences
  FROM grams GROUP BY gram
)
SELECT gram, n_occurrences
FROM counted, tot
WHERE n_occurrences >= CAST(ceil({_HH_FRAC} * n) AS BIGINT)
""".replace("{gram2}", _gram_sql(2)),
)
def text_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract row for the exact shuffle-free heavy-hitter plan:
    every 2-gram holding >= 0.1% of all 2-gram occurrences in the
    documents corpus. The oracle is the NAIVE full GROUP BY — DuckDB
    recounts everything and the Misra-Gries + exact-verify plan must
    land on the identical row set (exactness is the contract, not an
    approximation bound)."""
    docs = _docs(spark, sf_dir)
    return heavy_hitter_ngrams(
        docs, text_col="text", n=2, min_frac=_HH_FRAC
    ).select("gram", F.col("n_occurrences").cast("long").alias("n_occurrences"))


# --- word-blocklist filter (the C4 "bad words" gate) --------------------------

_BLOCK_SAMPLE = ["merge", "stream", "batch"]  # contract stand-in list


def blocklist_filter(
    docs: DataFrame,
    blockwords: list[str],
    text_col: str = "text",
    max_hits: int = 0,
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """C4-style blocklist gate: ``(doc_id, n_blocked, keep)`` where
    ``n_blocked`` counts blocklisted word OCCURRENCES and ``keep``
    allows at most ``max_hits`` (C4 uses 0 — any hit drops the doc).

    Scale shape: the blocklist rides as a plan-literal array (the
    published lists are a few hundred words — C4's is ~400), so the
    whole gate is ONE per-row projection inside whole-stage codegen;
    no shuffle, no UDF, no join. For 10⁴⁺-word lists, switch to
    explode + broadcast semi-join + hits-only aggregate — the literal
    array comparison goes O(words·list) per row past that point.
    """
    import re as _re

    # Normalize each entry into clean_words' alphabet (lowercase
    # [a-z0-9] runs) — a raw "Bad!" entry would otherwise NEVER match
    # any token and the gate would silently pass everything. Entries
    # that normalize to several tokens are phrases, which token
    # membership can't express — refuse loudly instead of silently
    # matching each word independently (over-blocking).
    norm: list[str] = []
    for w in blockwords:
        toks = [t for t in _re.split(r"[^a-z0-9]+", w.lower()) if t]
        if len(toks) > 1:
            raise ValueError(
                f"blocklist_filter: {w!r} is a multi-word phrase; this gate "
                "matches single tokens — split the list or use a substring "
                "rule over normalize_text for phrases"
            )
        norm.extend(toks)
    if not norm:
        raise ValueError("blocklist_filter: blockwords normalized to nothing")
    bl = F.array(*[F.lit(w) for w in dict.fromkeys(norm)])
    words = clean_words(text_col)
    n_blocked = F.size(F.filter(words, lambda w: F.array_contains(bl, w)))
    return docs.select(
        "doc_id",
        *passthrough,
        n_blocked.alias("n_blocked"),
        (n_blocked <= max_hits).alias("keep"),
    )


@register(
    "text_blocklist_filter",
    oracle=f"""
SELECT doc_id,
       CAST(len(list_filter({_W_SQL},
         w -> w IN ({", ".join(f"'{w}'" for w in _BLOCK_SAMPLE)}))) AS INTEGER)
         AS n_blocked,
       len(list_filter({_W_SQL},
         w -> w IN ({", ".join(f"'{w}'" for w in _BLOCK_SAMPLE)}))) <= 0 AS keep
FROM documents
""",
)
def text_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Library row: the blocklist gate over the documents table with a
    three-word stand-in list drawn from the synthetic vocabulary (the
    real deployment swaps in a published bad-words list) — per-doc hit
    counts and the keep verdict, both hash-checked."""
    return blocklist_filter(_docs(spark, sf_dir), _BLOCK_SAMPLE)


# --- corpus-health statistics: type-token ratio + Zipf fit -------------------

_ZIPF_TOPK = 1000  # fit over the head of the rank-frequency curve


@register(
    "text_zipf_ttr",
    oracle=f"""
WITH toks AS (
  SELECT unnest({_W_SQL}) AS word FROM documents
),
freq AS (SELECT word, count(*) AS c FROM toks GROUP BY word),
tot AS (
  SELECT CAST(sum(c) AS BIGINT) AS n_tokens,
         CAST(count(*) AS BIGINT) AS n_types
  FROM freq
),
ranked AS (
  SELECT c, row_number() OVER (ORDER BY c DESC, word) AS r FROM freq
),
pts AS (
  SELECT CAST(round(ln(r) * 10000) AS BIGINT) AS x4,
         CAST(round(ln(c) * 10000) AS BIGINT) AS y4
  FROM ranked WHERE r <= {_ZIPF_TOPK}
),
sums AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x4) AS BIGINT) AS sx, CAST(sum(y4) AS BIGINT) AS sy,
         CAST(sum(x4 * y4) AS BIGINT) AS sxy,
         CAST(sum(x4 * x4) AS BIGINT) AS sxx,
         CAST(sum(y4 * y4) AS BIGINT) AS syy
  FROM pts
)
SELECT t.n_tokens, t.n_types,
       CAST(round(CAST(t.n_types AS DOUBLE) / t.n_tokens * 1000000) AS BIGINT)
         / 1000000.0 AS ttr,
       CAST(round(
         CAST(s.n * s.sxy - s.sx * s.sy AS DOUBLE)
         / CAST(s.n * s.sxx - s.sx * s.sx AS DOUBLE) * 1000) AS BIGINT)
         / 1000.0 AS zipf_slope,
       CAST(round(
         CASE WHEN s.n * s.syy - s.sy * s.sy = 0 THEN 0.0
              ELSE (CAST(s.n * s.sxy - s.sx * s.sy AS DOUBLE)
                    * CAST(s.n * s.sxy - s.sx * s.sy AS DOUBLE))
                   / (CAST(s.n * s.sxx - s.sx * s.sx AS DOUBLE)
                      * CAST(s.n * s.syy - s.sy * s.sy AS DOUBLE)) END
         * 1000) AS BIGINT) / 1000.0 AS zipf_r2
FROM tot t, sums s
""",
)
def text_zipf_ttr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-health statistics in one row: type-token ratio and the
    Zipf rank-frequency power-law fit (slope ≈ −1 for natural language;
    a far-off slope or low R² flags boilerplate floods, dedup failures,
    or synthetic/templated text — the vocabulary-distribution dashboard
    number next to PSI's score-distribution one).

    Scale shape: ONE corpus token aggregate (vocabulary-bounded,
    map-side combined); the fit uses only the top-{_ZIPF_TOPK} ranks
    via orderBy+limit (TakeOrderedAndProject — the text_topk_ngrams
    idiom, never a vocabulary-wide sort; the post-limit rank window
    spans ≤1000 rows).

    Cross-engine determinism: ln(rank)/ln(freq) are quantized to 1e-4
    INTEGERS first, so every product and sum in the least-squares
    normal equations is exact integer arithmetic on both engines — the
    only floats are the two final divisions of exact operands, then a
    1e-3 quantize. Magnitudes: x4 ≤ ln(1000)·10⁴ ≈ 6.9·10⁴, so
    n·Σx4² ≤ 10³·10³·4.8·10⁹ < 2⁶³ — no overflow (the 1e-6 scaling
    the repo uses elsewhere WOULD overflow the n·Σ(x6·y6) term).
    """
    cache.begin_plan()
    docs = _docs(spark, sf_dir)
    freq = (
        docs.select(F.explode(clean_words("text")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("c"))
    )
    freq = cache.pin(freq)
    tot = freq.agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count("*").cast("long").alias("n_types"),
    )
    top = freq.orderBy(F.col("c").desc(), "word").limit(_ZIPF_TOPK)
    from pyspark.sql.window import Window

    w = Window.orderBy(F.col("c").desc(), "word")
    pts = top.select(
        F.round(F.log(F.row_number().over(w).cast("double")) * 1e4)
        .cast("long")
        .alias("x4"),
        F.round(F.log(F.col("c").cast("double")) * 1e4).cast("long").alias("y4"),
    )
    sums = pts.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x4").alias("sx"),
        F.sum("y4").alias("sy"),
        F.sum(F.col("x4") * F.col("y4")).alias("sxy"),
        F.sum(F.col("x4") * F.col("x4")).alias("sxx"),
        F.sum(F.col("y4") * F.col("y4")).alias("syy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den_x = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    den_y = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    return (
        tot.crossJoin(F.broadcast(sums))
        .select(
            "n_tokens",
            "n_types",
            quantize(F.col("n_types").cast("double") / F.col("n_tokens"), 6).alias(
                "ttr"
            ),
            quantize(num / den_x, 3).alias("zipf_slope"),
            # a corpus where every word has the SAME frequency has zero
            # y-variance: r^2 is 0/0 there — define it as 0 (no fit)
            quantize(
                F.when(den_y == 0, F.lit(0.0)).otherwise(
                    (num * num) / (den_x * den_y)
                ),
                3,
            ).alias("zipf_r2"),
        )
    )


# --- C4 line-level cleaning (round 14) ---------------------------------------

_C4_PUNCT = (".", "!", "?", '"')


def _c4_line_keep_sql(ln: str) -> str:
    """DuckDB predicate mirroring the Spark lambda in text_c4_line_filter
    (shared so the oracle and the docstring stay in one place):
    terminal punctuation, >= 5 whitespace words (the paper's floor —
    ADVICE r14 caught the prior undocumented 3), no 'javascript'."""
    punct = ", ".join(f"'{p}'" if p != '"' else "'\"'" for p in _C4_PUNCT)
    return (
        f"substring(trim({ln}), -1, 1) IN ({punct})"
        f" AND len(list_filter(string_split(trim({ln}), ' '), x -> x != ''))"
        f" >= 5"
        f" AND NOT contains(lower({ln}), 'javascript')"
    )


def _c4_oracle() -> str:
    keep = _c4_line_keep_sql("ln")
    return f"""
WITH gen AS (
  SELECT doc_id,
         'This is a proper sentence with many words.' || chr(10) ||
         'short line' || chr(10) ||
         'Beware javascript required to view.' || chr(10) ||
         trim(text) || chr(10) ||
         'Another good sentence ends here.' ||
         CASE WHEN doc_id % 17 = 0 THEN chr(10) || 'lorem ipsum dolor sit.'
              ELSE '' END ||
         CASE WHEN doc_id % 19 = 0 THEN chr(10) || 'code {{ block }} here.'
              ELSE '' END AS page
  FROM documents
),
split_ AS (
  SELECT doc_id, page, string_split(page, chr(10)) AS lines FROM gen
),
kept AS (
  SELECT doc_id, page, len(lines) AS n_lines,
         list_filter(lines, ln -> {keep}) AS keep_lines
  FROM split_
)
SELECT doc_id,
       array_to_string(keep_lines, chr(10)) AS clean_text,
       CAST(n_lines AS INT) AS n_lines,
       CAST(len(keep_lines) AS INT) AS n_kept_lines,
       (NOT contains(lower(page), 'lorem ipsum'))
         AND (NOT contains(page, '{{'))
         AND len(keep_lines) >= 3 AS page_keep
FROM kept
"""


@register("text_c4_line_filter", oracle=_c4_oracle())
def text_c4_line_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style line-level cleaning (Raffel et al. 2020, the published
    C4 heuristics) as ONE projection — the line rules every web-scale
    English corpus applies between extraction and quality scoring:

    - keep lines ending in a terminal punctuation mark (. ! ? ");
    - keep lines with >= 5 whitespace-delimited words (the paper's
      "only retained lines that contained at least 5 words" — r14
      shipped an undocumented 3-word floor, fixed per ADVICE r14);
    - drop lines mentioning 'javascript' (case-insensitive);
    - drop PAGES containing 'lorem ipsum' or a curly brace;
    - drop pages with fewer than 3 kept lines (the paper's
      three-SENTENCE floor applied at line granularity — a documented
      simplification, same spirit as jusText-lite's adjacency pass).

    All higher-order JVM expressions (split → filter → array_join), no
    shuffle, no Python. Pages are synthesized in-plan: three constant
    lines with known verdicts + the REAL document text as a line (its
    verdict varies with the data) + deterministic lorem/brace
    injections — so the oracle predicts every output with the SAME
    lambda predicate in DuckDB SQL and a hash match pins the whole
    rule set. Output keeps the page (annotated), letting callers
    filter on page_keep — dropping here would hide the reject-rate
    signal the census wants."""
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    d = F.col("doc_id")
    page = F.concat(
        F.lit(
            "This is a proper sentence with many words.\n"
            "short line\n"
            "Beware javascript required to view.\n"
        ),
        F.trim("text"),
        F.lit("\nAnother good sentence ends here."),
        F.when(d % 17 == 0, F.lit("\nlorem ipsum dolor sit.")).otherwise(
            F.lit("")
        ),
        F.when(d % 19 == 0, F.lit("\ncode { block } here.")).otherwise(
            F.lit("")
        ),
    )

    def _keep(ln):
        t = F.trim(ln)
        last = F.substring(t, -1, 1)
        n_words = F.size(
            F.filter(F.split(t, " "), lambda x: x != F.lit(""))
        )
        return (
            last.isin(*_C4_PUNCT)
            & (n_words >= 5)
            & ~F.lower(ln).contains("javascript")
        )

    with_lines = docs.select(
        "doc_id",
        page.alias("page"),
        F.split(page, "\n").alias("lines"),
    ).select(
        "doc_id",
        "page",
        "lines",
        F.filter(F.col("lines"), _keep).alias("keep_lines"),
    )
    return with_lines.select(
        "doc_id",
        F.array_join("keep_lines", "\n").alias("clean_text"),
        F.size("lines").cast("int").alias("n_lines"),
        F.size("keep_lines").cast("int").alias("n_kept_lines"),
        (
            ~F.lower(F.col("page")).contains("lorem ipsum")
            & ~F.col("page").contains("{")
            & (F.size("keep_lines") >= 3)
        ).alias("page_keep"),
    )
