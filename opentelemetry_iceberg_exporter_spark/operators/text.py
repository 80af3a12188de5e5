"""Text-analysis operators for training-data pipelines: token statistics,
quality scoring, n-gram language ID, document fingerprinting, corpus
n-gram frequencies.

All per-document features are Catalyst array expressions over the token
array — map-side, codegen'd, no shuffle; corpus-level stats shuffle once
on the n-gram key.  Integer arithmetic until final divisions keeps every
value cross-engine deterministic.
"""

from __future__ import annotations

from ..plancache import column_cache

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import md5_hash64, ngrams, tokens
from ..functions.textfns import HASH_MOD
from ..sources.tables import fan_out, load_table
from ..queries import register
from .sampling import duck_split_assignment, split_assignment

_DUCK_TOKENS = r"regexp_split_to_array(trim(text), '\s+')"

# language marker stopwords: tiny deterministic n-gram-ish heuristic.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "a"],
    "es": ["el", "la", "de", "y"],
    "de": ["der", "die", "und", "das"],
    "fr": ["le", "la", "et", "les"],
    "zh": ["de", "shi", "bu", "le"],
}
STOPWORDS = ["the", "a", "and", "of", "to", "in", "is", "it"]

_DUCK_STOPFILTER = "list_filter(t, x -> x IN (" + ", ".join(f"'{w}'" for w in STOPWORDS) + "))"

# GPT-2-style pre-tokenizer, restricted to constructs with identical
# semantics in Java regex (Spark) and RE2 (DuckDB): no lookarounds, no
# unicode classes; leftmost alternation on lowercased text. Contractions
# bind first, then letter runs, digit runs, and punctuation runs.
BPE_ISH_PATTERN = r"'(?:s|t|re|ve|m|ll|d)|[a-z]+|[0-9]+|[^a-z0-9\s']+"


def _count_in(tok: Column, words: list[str]) -> Column:
    arr = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(tok, lambda t: F.array_contains(arr, t)))


def doc_features(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """The full per-document feature row (merged t01+t02+t03+t04+t06):
    token statistics, quality score, language-ID scores + prediction,
    content fingerprints, BPE-ish token counts — ONE map-side Catalyst
    projection over the token array (no joins: at 100 TB a single narrow
    select beats 5 projections joined on doc_id by four shuffles)."""
    return df.select(F.col(id_col), *_doc_feature_columns(id_col, text_col))


@column_cache(maxsize=8)
def _doc_feature_columns(id_col: str, text_col: str) -> tuple:
    """The t01 feature Column list, built ONCE per (id, text) column
    pair: ~9 of these expressions carry py4j lambda plumbing (filter/
    transform/aggregate), which costs several hundred ms of driver time
    per construction — per BENCH PASS when rebuilt inside the query fn.
    Column objects are immutable expression wrappers reusable across
    DataFrames/queries in the process, so this caches plan-construction
    work only (analysis still runs per query; no rows are cached)."""
    text = F.col(text_col)
    tok = tokens(text)
    n = F.size(tok)
    sum_len = F.aggregate(F.transform(tok, F.length), F.lit(0), lambda a, x: a + x)
    uniq_ratio = F.size(F.array_distinct(tok)).cast("double") / n
    stop_ratio = _count_in(tok, STOPWORDS).cast("double") / n
    avg_len = sum_len.cast("double") / n
    len_factor = F.least(avg_len / F.lit(8.0), F.lit(1.0))
    score = F.round(
        F.lit(0.5) * uniq_ratio
        + F.lit(0.25) * F.least(stop_ratio * 4, F.lit(1.0))
        + F.lit(0.25) * len_factor,
        6,
    )
    norm = F.regexp_replace(F.trim(F.lower(text)), r"\s+", " ")
    head = F.slice(tok, 1, 3)
    tail = F.slice(tok, F.greatest(F.size(tok) - 2, F.lit(1)), 3)
    bpe = F.regexp_extract_all(F.lower(text), F.lit(BPE_ISH_PATTERN), F.lit(0))
    # language-ID: same sequential argmax as language_id(), inlined so the
    # lang columns ride the one projection
    lang_scores = {lang: _count_in(tok, words) for lang, words in LANG_MARKERS.items()}
    langs = list(LANG_MARKERS)
    pred = F.lit(langs[0])
    best_score = lang_scores[langs[0]]
    for lang in langs[1:]:
        cond = lang_scores[lang] > best_score
        pred = F.when(cond, F.lit(lang)).otherwise(pred)
        best_score = F.when(cond, lang_scores[lang]).otherwise(best_score)
    return (
        n.alias("n_tokens"),
        F.size(F.array_distinct(tok)).alias("n_unique_tokens"),
        F.round(sum_len.cast("double") / n, 4).alias("avg_token_len"),
        F.length(text).alias("n_chars_actual"),
        F.round(uniq_ratio, 6).alias("uniq_ratio"),
        F.round(stop_ratio, 6).alias("stop_ratio"),
        score.alias("quality_score"),
        F.md5(norm).alias("fp_full"),
        F.md5(F.concat_ws(" ", F.concat(head, tail))).alias("fp_headtail"),
        F.size(bpe).alias("n_bpe_tokens"),
        F.round(F.size(bpe).cast("double") / n, 4).alias("tokens_per_word"),
        *[lang_scores[lang].alias(f"score_{lang}") for lang in langs],
        pred.alias("pred_lang"),
        # deterministic train/val/test assignment (operators/sampling.py):
        # a real preprocessing pass computes this in the same projection
        split_assignment(F.col(id_col)),
    )  # tuple: cached per (id_col, text_col), see docstring


def _duck_lang_score(words: list[str]) -> str:
    inlist = ", ".join(f"'{w}'" for w in words)
    return f"len(list_filter(t, x -> x IN ({inlist})))"


def _doc_features_oracle() -> str:
    langs = list(LANG_MARKERS)
    score_cols = ",\n           ".join(
        f"{_duck_lang_score(LANG_MARKERS[lang])} AS score_{lang}" for lang in langs
    )
    # same sequential argmax as the Spark side (references the score_*
    # aliases, so it lives in an outer select over the feat CTE)
    pred = f"'{langs[0]}'"
    best = f"score_{langs[0]}"
    for lang in langs[1:]:
        pred = f"CASE WHEN score_{lang} > {best} THEN '{lang}' ELSE {pred} END"
        best = f"CASE WHEN score_{lang} > {best} THEN score_{lang} ELSE {best} END"
    return f"""
    WITH tok AS (SELECT doc_id, text, {_DUCK_TOKENS} AS t FROM documents),
    feat AS (
    SELECT doc_id,
           {score_cols},
           len(t) AS n_tokens,
           len(list_distinct(t)) AS n_unique_tokens,
           ROUND(list_sum(list_transform(t, x -> length(x)))::DOUBLE / len(t), 4)
             AS avg_token_len,
           length(text) AS n_chars_actual,
           ROUND(len(list_distinct(t))::DOUBLE / len(t), 6) AS uniq_ratio,
           ROUND(len({_DUCK_STOPFILTER})::DOUBLE / len(t), 6) AS stop_ratio,
           ROUND(
             0.5 * (len(list_distinct(t))::DOUBLE / len(t))
             + 0.25 * least((len({_DUCK_STOPFILTER})::DOUBLE / len(t)) * 4, 1.0)
             + 0.25 * least((list_sum(list_transform(t, x -> length(x)))::DOUBLE / len(t)) / 8.0, 1.0),
           6) AS quality_score,
           md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fp_full,
           md5(array_to_string(
             list_concat(t[1:3], t[greatest(len(t) - 2, 1):greatest(len(t) - 2, 1) + 2]),
             ' ')) AS fp_headtail,
           len(regexp_extract_all(lower(text),
               '''(?:s|t|re|ve|m|ll|d)|[a-z]+|[0-9]+|[^a-z0-9\\s'']+')) AS n_bpe_tokens,
           ROUND(len(regexp_extract_all(lower(text),
               '''(?:s|t|re|ve|m|ll|d)|[a-z]+|[0-9]+|[^a-z0-9\\s'']+'))::DOUBLE
               / len(t), 4) AS tokens_per_word
    FROM tok
    )
    SELECT *, {pred} AS pred_lang,
           {duck_split_assignment("doc_id")} AS split
    FROM feat
    """


@register(
    "t01_doc_features",
    _doc_features_oracle(),
    doc="Per-document text features in one map-side projection (merged "
    "t01+t02+t04+t06): token/length statistics, heuristic quality score "
    "(diversity/stopword/length), normalized + head/tail md5 "
    "fingerprints, and BPE-ish (GPT-2 pre-tokenizer shape) token "
    "counts.",
)
def t01_doc_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    return doc_features(load_table(spark, sf_dir, "documents"), "doc_id", "text")


def quality_score(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Heuristic quality score in [0,1]: lexical diversity, stopword mass,
    token-length sanity — the usual cheap pretraining-corpus filters."""
    tok = tokens(F.col(text_col))
    n = F.size(tok)
    uniq_ratio = F.size(F.array_distinct(tok)).cast("double") / n
    stop_ratio = _count_in(tok, STOPWORDS).cast("double") / n
    sum_len = F.aggregate(F.transform(tok, F.length), F.lit(0), lambda a, x: a + x)
    avg_len = sum_len.cast("double") / n
    # clamp(avg_len/8, 0, 1): crude "words look like words" factor
    len_factor = F.least(avg_len / F.lit(8.0), F.lit(1.0))
    score = F.round(
        F.lit(0.5) * uniq_ratio + F.lit(0.25) * F.least(stop_ratio * 4, F.lit(1.0))
        + F.lit(0.25) * len_factor,
        6,
    )
    return df.select(
        F.col(id_col),
        F.round(uniq_ratio, 6).alias("uniq_ratio"),
        F.round(stop_ratio, 6).alias("stop_ratio"),
        score.alias("quality_score"),
    )


# NOTE: the former t02 quality-score query merged into t01_doc_features
# — round-2 50-slot consolidation. quality_score() is unchanged.


def language_id(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Stopword-marker language scoring; deterministic argmax with fixed
    tie order (list order of LANG_MARKERS)."""
    tok = tokens(F.col(text_col))
    out = df.withColumn("__tok", tok)
    scores = {
        lang: _count_in(F.col("__tok"), words) for lang, words in LANG_MARKERS.items()
    }
    langs = list(LANG_MARKERS)
    best = F.lit(langs[0])
    best_score = scores[langs[0]]
    for lang in langs[1:]:
        cond = scores[lang] > best_score
        best = F.when(cond, F.lit(lang)).otherwise(best)
        best_score = F.when(cond, scores[lang]).otherwise(best_score)
    return out.select(
        F.col(id_col),
        *[scores[lang].alias(f"score_{lang}") for lang in langs],
        best.alias("pred_lang"),
    )


def _duck_lang_oracle() -> str:
    langs = list(LANG_MARKERS)
    score_cols = ",\n           ".join(
        f"{_duck_lang_score(LANG_MARKERS[lang])} AS score_{lang}" for lang in langs
    )
    # same sequential argmax as the Spark side
    pred = f"'{langs[0]}'"
    best = f"score_{langs[0]}"
    for lang in langs[1:]:
        pred = f"CASE WHEN score_{lang} > {best} THEN '{lang}' ELSE {pred} END"
        best = f"CASE WHEN score_{lang} > {best} THEN score_{lang} ELSE {best} END"
    return f"""
    WITH tok AS (SELECT doc_id, {_DUCK_TOKENS} AS t FROM documents),
    scored AS (
      SELECT doc_id,
           {score_cols}
      FROM tok
    )
    SELECT doc_id, score_en, score_es, score_de, score_fr, score_zh,
           {pred} AS pred_lang
    FROM scored
    """


def fingerprint(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Content fingerprints: full-text md5 over normalized text, plus a
    head/tail fingerprint (first+last 3 tokens) for cheap clustering."""
    norm = F.regexp_replace(F.trim(F.lower(F.col(text_col))), r"\s+", " ")
    tok = tokens(F.col(text_col))
    head = F.slice(tok, 1, 3)
    tail = F.slice(tok, F.greatest(F.size(tok) - 2, F.lit(1)), 3)
    return df.select(
        F.col(id_col),
        F.md5(norm).alias("fp_full"),
        F.md5(F.concat_ws(" ", F.concat(head, tail))).alias("fp_headtail"),
    )


# NOTE: the former t04 fingerprint query merged into t01_doc_features
# — round-2 50-slot consolidation. fingerprint() is unchanged.


# contact-ish patterns: RE2/Java-compatible (no lookarounds), intentionally
# conservative — these are corpus-quality SIGNALS, not validators
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
URL_RE = r"https?://[^\s]+"


def content_flags(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document content-quality flags a pretraining filter keys on:
    contact-info density (emails/URLs), digit and uppercase mass, and a
    repeated-line boilerplate ratio (1 - distinct/total lines — headers,
    footers, nav chrome repeat within a page). One map-side projection;
    thresholding/filtering is the caller's policy decision.
    """
    text = F.col(text_col)
    lines = F.split(text, r"\n")
    n_lines = F.size(lines)
    n_chars = F.length(text)
    return df.select(
        F.col(id_col),
        F.size(F.regexp_extract_all(text, F.lit(EMAIL_RE), F.lit(0))).alias("n_emails"),
        F.size(F.regexp_extract_all(text, F.lit(URL_RE), F.lit(0))).alias("n_urls"),
        F.round(
            F.length(F.regexp_replace(text, r"[^0-9]", "")).cast("double")
            / F.greatest(n_chars, F.lit(1)),
            6,
        ).alias("digit_ratio"),
        F.round(
            F.length(F.regexp_replace(text, r"[^A-Z]", "")).cast("double")
            / F.greatest(n_chars, F.lit(1)),
            6,
        ).alias("upper_ratio"),
        n_lines.alias("n_lines"),
        F.round(
            F.lit(1.0)
            - F.size(F.array_distinct(lines)).cast("double")
            / F.greatest(n_lines, F.lit(1)),
            6,
        ).alias("boilerplate_ratio"),
    )


def duck_content_flags_sql() -> str:
    """DuckDB rendering of content_flags over (doc_id, text)."""
    return rf"""
    SELECT doc_id,
      len(regexp_extract_all(text, '{EMAIL_RE}')) AS n_emails,
      len(regexp_extract_all(text, 'https?://[^\s]+')) AS n_urls,
      ROUND(length(regexp_replace(text, '[^0-9]', '', 'g'))::DOUBLE
            / greatest(length(text), 1), 6) AS digit_ratio,
      ROUND(length(regexp_replace(text, '[^A-Z]', '', 'g'))::DOUBLE
            / greatest(length(text), 1), 6) AS upper_ratio,
      len(string_split(text, chr(10))) AS n_lines,
      ROUND(1.0 - len(list_distinct(string_split(text, chr(10))))::DOUBLE
            / greatest(len(string_split(text, chr(10))), 1), 6)
        AS boilerplate_ratio
    FROM documents
    """


# PII patterns, deliberately written in the common subset of Java regex
# (Spark) and RE2 (DuckDB): no lookaround, no backreferences, no \s
# (whose character sets differ between the engines). Replacement order
# matters and is part of the contract: EMAIL first (contains digits a
# later pass could mangle), then IP (dots would read as phone
# separators), then SSN (a phone-shaped digit group), then PHONE.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", EMAIL_RE, "<EMAIL>"),
    ("ip", r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b", "<IP>"),
    ("ssn", r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b", "<SSN>"),
    ("phone", r"\+?[0-9][0-9() .-]{6,}[0-9]", "<PHONE>"),
]


def redact_pii(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """PII scrubbing for pretraining corpora: counts per category
    (emails, IPv4s, SSN-shaped ids, phone-shaped digit runs) measured on
    the ORIGINAL text, plus `text_redacted` with each match replaced by
    a typed placeholder token. One map-side projection — four
    regexp_counts and a chain of four regexp_replaces inside whole-stage
    codegen; no UDFs, no shuffle, embarrassingly parallel at any scale.

    Counts are per ORIGINAL text on purpose: each category reports what
    a reader of the raw document would find, independent of the
    replacement order the redaction chain applies.
    """
    text = F.col(text_col)
    redacted = text
    counts = []
    for name, pattern, token in PII_PATTERNS:
        counts.append(
            F.size(F.regexp_extract_all(text, F.lit(pattern), F.lit(0))).alias(f"n_{name}")
        )
        redacted = F.regexp_replace(redacted, pattern, token)
    out = df.select(F.col(id_col), *counts, redacted.alias("text_redacted"))
    total = None
    for name, _, _ in PII_PATTERNS:
        c = F.col(f"n_{name}")
        total = c if total is None else total + c
    return out.withColumn("pii_total", total)


def duck_redact_pii_sql() -> str:
    """DuckDB rendering of redact_pii over (doc_id, text) — the same
    patterns, the same replacement order."""
    counts = ",\n      ".join(
        f"len(regexp_extract_all(text, '{p}')) AS n_{name}"
        for name, p, _ in PII_PATTERNS
    )
    redacted = "text"
    for _, p, token in PII_PATTERNS:
        redacted = f"regexp_replace({redacted}, '{p}', '{token}', 'g')"
    total = " + ".join(f"len(regexp_extract_all(text, '{p}'))" for _, p, _ in PII_PATTERNS)
    return f"""
    SELECT doc_id,
      {counts},
      {redacted} AS text_redacted,
      {total} AS pii_total
    FROM documents
    """


# repetition signals (Gopher-style): fraction of the document's
# characters covered by the single most common word n-gram (short n —
# catchphrase/boilerplate loops) and by ALL duplicated n-grams (longer
# n — copy-paste blocks). Character mass is measured over the
# space-joined token stream in both engines so the fractions agree
# bit-for-bit.
REPETITION_TOP_NS = (2, 3, 4)
REPETITION_DUP_NS = (5, 8)


def repetition_flags(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document repetition ratios a pretraining quality filter keys
    on (Rae et al., Gopher §A1.1): ``top_{n}gram_char_frac`` for
    n=2,3,4 and ``dup_{n}gram_char_frac`` for n=5,8, each in [0,1],
    0.0 for docs too short to form an n-gram.

    Shape: ONE explode of all tagged n-grams -> count per (doc, n,
    gram) -> per-(doc, n) aggregate -> conditional-aggregation pivot.
    Two shuffles total regardless of how many n values are computed;
    ties for the top gram break deterministically toward the larger
    character mass (max over a (count, char-mass) struct, mirrored in
    the DuckDB SQL)."""
    from ..functions import ngrams, tokens

    all_ns = sorted(set(REPETITION_TOP_NS) | set(REPETITION_DUP_NS))
    toks = tokens(F.col(text_col))

    def tag(n: int):
        # NB: a single-parameter lambda only — pyspark calls two-param
        # lambdas as (element, index), so `lambda g, n=n` would tag each
        # gram with its ARRAY INDEX instead of the n-gram size
        return lambda g: F.struct(F.lit(n).alias("n"), g.alias("gram"))

    tagged = F.flatten(F.array(*[F.transform(ngrams(toks, n), tag(n)) for n in all_ns]))
    base = df.select(
        F.col(id_col),
        F.greatest(F.length(F.concat_ws(" ", toks)), F.lit(1)).alias("__tc"),
        F.explode(tagged).alias("__g"),
    )
    counts = base.groupBy(
        F.col(id_col), F.col("__tc"), F.col("__g.n").alias("__n"), F.col("__g.gram").alias("__gram")
    ).agg(F.count(F.lit(1)).alias("__c"))
    gram_chars = F.col("__c") * F.length("__gram")
    stats = counts.groupBy(id_col, "__tc", "__n").agg(
        F.max(F.struct(F.col("__c"), gram_chars.alias("__l"))).alias("__top"),
        F.sum(F.when(F.col("__c") > 1, gram_chars).otherwise(F.lit(0))).alias("__dup"),
    )
    metrics = stats.select(
        F.col(id_col),
        "__n",
        F.round(F.col("__top.__l").cast("double") / F.col("__tc"), 6).alias("__top_frac"),
        F.round(
            F.least(F.lit(1.0), F.col("__dup").cast("double") / F.col("__tc")), 6
        ).alias("__dup_frac"),
    )
    agg_cols = [
        F.max(F.when(F.col("__n") == n, F.col("__top_frac"))).alias(
            f"top_{n}gram_char_frac"
        )
        for n in REPETITION_TOP_NS
    ] + [
        F.max(F.when(F.col("__n") == n, F.col("__dup_frac"))).alias(
            f"dup_{n}gram_char_frac"
        )
        for n in REPETITION_DUP_NS
    ]
    out = df.select(F.col(id_col)).join(
        metrics.groupBy(id_col).agg(*agg_cols), id_col, "left"
    )
    return out.fillna(0.0)  # docs too short for any n-gram


def duck_repetition_flags_sql() -> str:
    """DuckDB rendering of repetition_flags over (doc_id, text)."""

    def gram_list(n: int) -> str:
        terms = " || ' ' || ".join(f"t[i + {j}]" for j in range(n))
        return f"list_transform(range(1, greatest(len(t) - {n - 1}, 0) + 1), i -> {terms})"

    all_ns = sorted(set(REPETITION_TOP_NS) | set(REPETITION_DUP_NS))
    gram_rows = "\n      UNION ALL\n      ".join(
        f"SELECT doc_id, tc, {n} AS n, unnest({gram_list(n)}) AS gram FROM base"
        for n in all_ns
    )
    top_cols = ",\n      ".join(
        f"COALESCE(ROUND(MAX(CASE WHEN n = {n} THEN topl END)::DOUBLE"
        f" / MAX(CASE WHEN n = {n} THEN tc END), 6), 0.0) AS top_{n}gram_char_frac"
        for n in REPETITION_TOP_NS
    )
    # NB: DuckDB's LEAST skips NULLs (LEAST(1.0, NULL) = 1.0, unlike
    # Spark's null-propagating least) — guard the no-gram case explicitly
    dup_cols = ",\n      ".join(
        f"COALESCE(CASE WHEN MAX(CASE WHEN n = {n} THEN dup END) IS NULL THEN NULL"
        f" ELSE ROUND(LEAST(1.0, MAX(CASE WHEN n = {n} THEN dup END)::DOUBLE"
        f" / MAX(CASE WHEN n = {n} THEN tc END)), 6) END, 0.0)"
        f" AS dup_{n}gram_char_frac"
        for n in REPETITION_DUP_NS
    )
    return f"""
    WITH tok AS (
      SELECT doc_id, {_DUCK_TOKENS} AS t FROM documents
    ), base AS (
      SELECT doc_id, greatest(length(array_to_string(t, ' ')), 1) AS tc, t
      FROM tok
    ), grams AS (
      {gram_rows}
    ), counts AS (
      SELECT doc_id, tc, n, gram, COUNT(*) AS c
      FROM grams GROUP BY doc_id, tc, n, gram
    ), stats AS (
      SELECT doc_id, tc, n,
             (MAX(struct_pack(c := c, l := c * length(gram)))).l AS topl,
             SUM(CASE WHEN c > 1 THEN c * length(gram) ELSE 0 END) AS dup
      FROM counts GROUP BY doc_id, tc, n
    )
    SELECT d.doc_id,
      {top_cols},
      {dup_cols}
    FROM documents d LEFT JOIN stats ON d.doc_id = stats.doc_id
    GROUP BY d.doc_id
    """


def corpus_report(
    df: DataFrame, group_cols: list[str], id_col: str, text_col: str
) -> DataFrame:
    """The per-slice 'dataset card': for each group (e.g. source × lang)
    the document count, token-mass statistics, quality-score quantiles,
    and exact-duplicate rate — the one-page summary a curation pipeline
    publishes alongside a corpus snapshot.

    Shape: doc_features is map-side; the report is ONE partial+final
    aggregation on the group key. The dup rate reuses the exact-dedup
    content hash as a two-level aggregation (hash inside group, then
    group) — no joins.
    """
    feats = doc_features(df, id_col, text_col).join(
        df.select(F.col(id_col), *[F.col(c) for c in group_cols]), id_col
    )
    norm_hash = F.md5(
        F.regexp_replace(F.trim(F.lower(F.col(text_col))), r"\s+", " ")
    )
    dups = (
        df.select(*[F.col(c) for c in group_cols], norm_hash.alias("__h"))
        .groupBy(*group_cols, "__h")
        .agg(F.count(F.lit(1)).alias("n"))
        .groupBy(*group_cols)
        .agg(
            (F.sum("n") - F.count(F.lit(1))).alias("n_exact_dups"),
            F.sum("n").alias("__total"),
        )
        .select(
            *group_cols,
            F.round(F.col("n_exact_dups") / F.col("__total"), 6).alias("dup_rate"),
        )
    )
    report = feats.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.round(F.avg("n_tokens"), 2).alias("avg_tokens"),
        F.min("n_tokens").alias("min_tokens"),
        F.max("n_tokens").alias("max_tokens"),
        F.round(F.percentile_approx("quality_score", 0.5), 6).alias("p50_quality"),
        F.round(F.percentile_approx("quality_score", 0.1), 6).alias("p10_quality"),
        F.round(F.avg("tokens_per_word"), 4).alias("avg_tokens_per_word"),
    )
    return report.join(dups, group_cols)


WINNOW_K = 5  # char k-gram width
WINNOW_W = 4  # winnowing window (guarantee: any match >= k+w-1 chars is caught)


def winnowing_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = WINNOW_K,
    w: int = WINNOW_W,
) -> DataFrame:
    """Rolling-hash document fingerprints via winnowing (Schleimer,
    Wilkerson & Aiken, SIGMOD'03 — the MOSS algorithm): hash every char
    k-gram of the normalized text, then keep the MINIMUM hash of each
    sliding window of w consecutive k-gram hashes. The selected set is
    position-independent and guarantees any shared substring of length
    >= k+w-1 contributes at least one common fingerprint — the
    plagiarism/near-dup detector that md5-of-whole-doc can't be.

    Columnar rendering: a classical rolling hash updates in O(1) per
    position to save scalar CPU; in a vectorized engine each k-gram
    hash is an independent array element, so the winnowing SELECTION
    (the part that defines the output) is expressed exactly while the
    hash itself is the cross-engine md5 primitive. Everything is one
    map-side projection — no shuffle, no UDF; at 100 TB the downstream
    join on exploded fingerprints is the same equi-join shape as d03/d04.

    Output: (id, fingerprints array<bigint> sorted distinct, n_grams).
    """
    norm = F.lower(F.trim(F.col(text_col)))

    def gram_hashes(t: Column) -> Column:
        idx = F.sequence(F.lit(1), F.length(t) - F.lit(k - 1))
        hashed = F.transform(
            idx, lambda i: md5_hash64(t.substr(i, F.lit(k))) % HASH_MOD
        )
        return F.when(F.length(t) >= k, hashed).otherwise(
            F.array().cast("array<bigint>")
        )

    # let-bind the hash array (same trick as functions.ngrams) so the
    # window-min pass reads it instead of recomputing every md5 w times
    def winnow(h: Column) -> Column:
        starts = F.sequence(F.lit(1), F.size(h) - F.lit(w - 1))
        mins = F.transform(starts, lambda j: F.array_min(F.slice(h, j, w)))
        return F.when(F.size(h) >= w, mins).otherwise(h)

    h_arr = F.element_at(F.transform(F.array(gram_hashes(norm)), lambda x: x), 1)
    fp = F.element_at(F.transform(F.array(h_arr), winnow), 1)
    return df.select(
        F.col(id_col),
        F.array_sort(F.array_distinct(fp)).alias("fingerprints"),
        F.size(h_arr).alias("n_grams"),
    )


def duck_winnowing_sql(k: int = WINNOW_K, w: int = WINNOW_W) -> str:
    """DuckDB rendering of winnowing_fingerprints over (doc_id, text)."""
    h64 = "(('0x' || substring(md5(substring(t, i, " + str(k) + ")), 1, 15))::BIGINT)"
    return f"""
    WITH norm AS (SELECT doc_id, lower(trim(text)) AS t FROM documents),
    hs AS (
      SELECT doc_id,
             list_transform(range(1, greatest(length(t) - {k - 1}, 0) + 1),
                            i -> {h64} % {HASH_MOD}) AS h
      FROM norm
    ),
    win AS (
      SELECT doc_id, h,
             CASE WHEN len(h) >= {w}
                  THEN list_transform(range(1, len(h) - {w - 1} + 1),
                                      j -> list_aggregate(h[j:j + {w - 1}], 'min'))
                  ELSE h END AS mins
      FROM hs
    )
    SELECT doc_id,
           list_sort(list_distinct(mins)) AS fingerprints,
           len(h) AS n_grams
    FROM win
    """


def top_ngrams(df: DataFrame, text_col: str, n: int = 2, k: int = 20) -> DataFrame:
    """Corpus-level top-k n-grams: explode -> count -> top-k.  The single
    shuffle keys on the n-gram; partial aggregation collapses the heavy
    hitters map-side."""
    grams = df.select(F.explode(ngrams(tokens(F.col(text_col)), n)).alias("gram"))
    return (
        grams.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("gram").asc())
        .limit(k)
    )


@register(
    "t05_top_bigrams",
    f"""
    WITH tok AS (SELECT {_DUCK_TOKENS} AS t FROM documents),
    grams AS (
      SELECT unnest(list_transform(range(1, greatest(len(t) - 1, 0) + 1),
                    i -> t[i] || ' ' || t[i + 1])) AS gram
      FROM tok
    )
    SELECT gram, COUNT(*) AS n
    FROM grams GROUP BY gram
    ORDER BY n DESC, gram ASC
    LIMIT 20
    """,
    doc="Corpus top-20 word bigrams.",
)
def t05_top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fan_out: the tokenize + bigram explode + map-side partial agg
    # otherwise run on the scan's single split (no-op at scale)
    return top_ngrams(fan_out(load_table(spark, sf_dir, "documents"), spark),
                      "text", 2, 20)


def winnowing_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_shared: int = 2,
    df_cap: int | None = 1000,
) -> DataFrame:
    """Near-dup candidate pairs from shared winnowing fingerprints —
    the substring-overlap counterpart of MinHash-LSH (d03): docs sharing
    >= min_shared selected k-gram hashes. Explode fingerprints ->
    equi-join on the hash -> pair count; the same stop-key document-
    frequency cap as d04 guards against boilerplate fingerprints
    manufacturing O(df²) pairs. Shuffle volume is O(docs × selected
    fingerprints), never all-pairs.
    """
    fp = winnowing_fingerprints(df, id_col, text_col).select(
        F.col(id_col), F.explode("fingerprints").alias("fp")
    )
    fp = fp.repartition(F.col("fp"))
    if df_cap is not None:
        freq = fp.groupBy("fp").agg(F.count(F.lit(1)).alias("df_"))
        fp = fp.join(freq.filter(F.col("df_") <= df_cap), "fp", "inner").drop("df_")
    a, b = fp.alias("a"), fp.alias("b")
    return (
        a.join(
            b,
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias("shared_fingerprints"))
        .filter(F.col("shared_fingerprints") >= min_shared)
    )


def tfidf_top_terms(
    df: DataFrame,
    id_col: str,
    text_col: str,
    top_k: int = 5,
    min_df: int = 1,
) -> DataFrame:
    """Top-k characteristic terms per document by tf-idf.

    Determinism: the ranking score is tf * n_docs / df — one IEEE
    double division of exact integers, which is correctly rounded and
    therefore bit-identical in any engine, unlike ln()/log() whose last
    ulp varies across libm implementations. The conventional log-idf is
    emitted alongside (rounded) for consumers, but ordering never
    depends on it. Ties break on the term string.

    Scale shape: token explode -> (doc,term) count [shuffle 1 on
    (doc,term)] -> document frequency [shuffle 2 on term, partial aggs
    map-side] -> join back on term [co-partitioned with shuffle 2] ->
    per-doc window top-k [shuffle 3 on doc]. The corpus size n_docs is
    a 1-row broadcast. When the vocabulary fits in memory, hint
    F.broadcast on the frequency side to delete shuffle 2's join
    exchange.
    """
    toks = df.select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("term"))
    tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    # tf rows are unique per (doc, term), so counting them per term IS
    # the document frequency — no second distinct pass
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("term_df"))
    n_docs = df.select(F.count_distinct(F.col(id_col)).alias("n_docs"))
    scored = (
        tf.join(dfreq.filter(F.col("term_df") >= min_df), "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "score", F.col("tf") * F.col("n_docs") / F.col("term_df")
        )
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy(id_col).orderBy(
        F.col("score").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= top_k)
        .select(
            F.col(id_col),
            F.col("rk"),
            F.col("term"),
            F.col("tf"),
            F.col("term_df"),
            F.round(F.ln(F.col("n_docs") / F.col("term_df")), 6).alias("idf_log"),
        )
    )


def duck_tfidf_sql(top_k: int = 5, min_df: int = 1) -> str:
    """DuckDB rendering of tfidf_top_terms over (doc_id, text)."""
    return f"""
    WITH toks AS (
      SELECT doc_id, unnest({_DUCK_TOKENS}) AS term FROM documents
    ), tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2
    ), dfreq AS (
      SELECT term, COUNT(*) AS term_df FROM tf GROUP BY 1
    ), nd AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term, tf.tf, dfreq.term_df, nd.n_docs,
             tf.tf * nd.n_docs / dfreq.term_df AS score
      FROM tf JOIN dfreq USING (term) CROSS JOIN nd
      WHERE dfreq.term_df >= {min_df}
    )
    SELECT doc_id, rk, term, tf, term_df,
           ROUND(ln(n_docs * 1.0 / term_df), 6) AS idf_log
    FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY doc_id ORDER BY score DESC, term ASC) AS rk
      FROM scored
    ) WHERE rk <= {top_k}
    """


def bpe_token_counts(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Sub-word-ish token counting: the BPE pre-tokenization pass (the
    expensive, parallelizable part of real BPE — the merge table lookup
    that follows is a dictionary join at scale)."""
    toks = F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(BPE_ISH_PATTERN), F.lit(0))
    words = tokens(F.col(text_col))
    return df.select(
        F.col(id_col),
        F.size(toks).alias("n_bpe_tokens"),
        F.size(words).alias("n_word_tokens"),
        F.round(F.size(toks).cast("double") / F.size(words), 4).alias(
            "tokens_per_word"
        ),
    )


# NOTE: the former t06 BPE-ish token-count query merged into
# t01_doc_features — round-2 50-slot consolidation. bpe_token_counts()
# is unchanged.
