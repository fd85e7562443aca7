"""Text-quality operators for large-scale training-data pipelines.

All hot-path logic is JVM-side column expressions (whole-stage codegen,
no Python UDFs): token counting, character-class statistics, stopword
language identification and document fingerprinting are pure
``pyspark.sql.functions`` compositions, so they scale to 10^12 rows with
zero Python overhead and full predicate pushdown upstream.

Counts are returned as exact integers (ratios derivable downstream) so
results are bit-stable across engines — the DuckDB oracles in
``__spark_entry__.py`` compute the same integers.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

# Marker stopwords per language for the n-gram/stopword language-ID
# heuristic. Deliberately small and fixed: the heuristic must be exactly
# reproducible in ANSI SQL for the correctness oracle.
#: Per-language marker stopwords (high-frequency, short, distinctive;
#: ties broken by code order). Chosen to be disjoint across languages
#: so a marker never scores two candidates.
LANG_MARKERS = {
    "en": ("the", "and", "of"),
    "de": ("der", "und", "die"),
    "fr": ("le", "et", "les"),
    "es": ("el", "y", "los"),
    "it": ("il", "che", "della"),
    "pt": ("o", "uma", "das"),
    "nl": ("het", "een", "niet"),
    "pl": ("nie", "się", "jest"),
    "sv": ("och", "att", "det"),
    "tr": ("bir", "ve", "için"),
    "id": ("yang", "dan", "di"),
    "vi": ("của", "và", "những"),
}

PUNCT_CLASS = r"[.,;:!?'\"()\[\]{}-]"


def _tokens(col):
    return F.split(F.trim(col), r"\s+")


def doc_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact per-document quality counters (all integer columns):
    chars, tokens, distinct tokens, whitespace, punctuation, digits,
    mean token length scaled by 1000 (int).

    Round 6: the char-class counters use ``regexp_count`` instead of
    ``length(t) - length(regexp_replace(t, cls, ''))`` — the same
    integer for single-char classes (each match removes exactly one
    char), without materializing a full stripped copy of the text per
    counter (3 string allocations per document saved) — and a small
    (single-row-group) input is spread across the cluster first."""
    from .partitioning import spread_input

    df = spread_input(df, ["doc_id", text_col])
    t = F.col(text_col)
    toks = _tokens(t)
    return df.select(
        "doc_id",
        F.length(t).cast("long").alias("n_chars"),
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct_tokens"),
        F.regexp_count(t, F.lit(r"\s")).cast("long").alias("n_spaces"),
        F.regexp_count(t, F.lit(PUNCT_CLASS)).cast("long").alias("n_punct"),
        F.regexp_count(t, F.lit(r"[0-9]")).cast("long").alias("n_digits"),
    )


def lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Stopword-count language ID: argmax over per-language marker-token
    counts, ties broken by language code order; 'und' (undetermined)
    when no marker appears. Exactly reproducible in SQL.

    Plan shape (round 6): the text is split once, ``explode``-d, and
    the 36 marker counts come from one codegen hash-aggregate over the
    marker-filtered token stream (``isin`` over >10 literals compiles
    to an O(1) hash-set InSet probe per token), left-joined back to the
    document list so marker-free documents keep their zero scores and
    NULL-text documents their NULL scores. The round-5 shape — 36
    ``size(filter(...))`` scans over a materialized token array — ran
    every token visit through interpreted CodegenFallback lambda
    evaluation, 36 passes per document (5.6 s / 50 k docs); the
    round-1 single-pass struct-accumulator ``aggregate()`` was worse
    still (43.6 s at sf0.1). Counts are integers and the token stream
    is the same split, so scores are bit-identical; the added
    exchanges carry only marker hits and 13-column count rows.
    Input contract (as for the dedup signature builds): ``doc_id`` is
    a non-NULL unique key — the aggregate+join-back would merge
    NULL/duplicate ids that a per-row formulation scored per row."""
    from .partitioning import spread_input

    langs = list(LANG_MARKERS)
    all_markers = [w for l in langs for w in LANG_MARKERS[l]]
    toked = spread_input(df, ["doc_id", "lang", text_col]).select(
        "doc_id", "lang",
        F.split(F.trim(F.lower(F.col(text_col))), r"\s+").alias("_toks"))
    exploded = toked.select(
        "doc_id", F.explode("_toks").alias("_tok"),
    ).filter(F.col("_tok").isin(all_markers))
    # Marker counters, score projection and the argmax chain are
    # emitted as parsed SQL text: the Column-API construction of 36
    # sum(when(...)) counters plus the 12-way when-chains cost ~0.55 s
    # of driver-side py4j round trips per invocation (measured; same
    # construction-cost class as dedup's band-bucket array and
    # similarity.lsh_bucket — see those docstrings), the strings a few
    # ms. All-integer/string arithmetic, identical analyzed
    # expressions; output equality is pinned by test_lang_id_matches_hof
    # and was verified row-identical at sf0.1.
    def _q(w: str) -> str:
        return "'" + w.replace("'", "''") + "'"

    aggs = [
        F.expr(" + ".join(
            f"sum(CASE WHEN _tok = {_q(w)} THEN 1 ELSE 0 END)"
            for w in LANG_MARKERS[l]) + f" AS _raw_{l}")
        for l in langs
    ]
    counts = exploded.groupBy("doc_id").agg(*aggs)
    score_cols = [
        F.expr(f"CAST(CASE WHEN _has THEN coalesce(_raw_{l}, "
               f"CAST(0 AS BIGINT)) END AS BIGINT) AS score_{l}")
        for l in langs
    ]
    scored = (
        toked.select("doc_id", "lang",
                     F.col("_toks").isNotNull().alias("_has"))
        .join(counts, "doc_id", "left")
        .select("doc_id", "lang", *score_cols)
    )
    best_s = "greatest(" + ", ".join(f"score_{l}" for l in langs) + ")"
    # first language hitting the max wins (stable tie-break)
    pred_s = (f"CASE WHEN {best_s} = 0 THEN 'und'"
              + "".join(f" WHEN score_{l} = {best_s} THEN '{l}'"
                        for l in langs) + " END")
    return scored.select(
        "doc_id",
        F.col("lang").alias("lang_declared"),
        *[F.expr(f"CAST(score_{l} AS BIGINT) AS score_{l}")
          for l in langs],
        F.expr(pred_s).alias("lang_pred"),
    )


def fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Order-insensitive document signature: md5 of the sorted distinct
    token set. Collision-groups this key to find bag-of-words duplicates
    regardless of word order — the cheap first stage ahead of MinHash."""
    from .partitioning import spread_input

    df = spread_input(df, ["doc_id", text_col])
    toks = F.array_sort(F.array_distinct(_tokens(F.col(text_col))))
    return df.select(
        "doc_id",
        F.md5(F.array_join(toks, " ")).alias("token_set_sig"),
        F.md5(F.col(text_col)).alias("text_sig"),
    )


def winnow_fingerprints(df: DataFrame, text_col: str = "text",
                        k: int = 8, w: int = 4) -> DataFrame:
    """Winnowing fingerprints (Schleimer/Wilkerson/Aiken, the MOSS
    algorithm): hash every character k-gram, slide a window of ``w``
    consecutive k-gram hashes, keep each window's minimum — the
    guarantee is that any match of length >= k + w - 1 shares at least
    one selected fingerprint. Pure JVM higher-order expressions
    (transform / slice / array_min); the doc-level ``winnow_sig`` is
    the md5 of the sorted distinct selection. Round 6: the input is
    spread across the cluster first — the per-row k-gram hashing is
    the heaviest map work in this module and a single-row-group scan
    ran it on one task."""
    from .partitioning import spread_input

    df = spread_input(df, ["doc_id", text_col])
    t = F.col(text_col)
    n = F.length(t)
    n_grams = n - k + 1
    grams = F.when(n_grams >= 1, F.transform(
        F.sequence(F.lit(1), n_grams),
        lambda i: F.md5(F.substring(t, i, F.lit(k))),
    )).otherwise(F.array().cast("array<string>"))
    n_windows = F.size(grams) - w + 1
    minima = F.when(n_windows >= 1, F.transform(
        F.sequence(F.lit(1), n_windows),
        lambda j: F.array_min(F.slice(grams, j, w)),
    )).otherwise(grams)  # fewer than w grams: keep them all
    sel = F.array_sort(F.array_distinct(minima))
    return df.select(
        "doc_id",
        F.md5(F.array_join(sel, " ")).alias("winnow_sig"),
        F.size(sel).cast("long").alias("n_fingerprints"),
    )


#: Unicode script ranges (the generalization of the reference's
#: calcLang CJK/Cyrillic codepoint checks, miscUtils.js:180-204) —
#: (name, regex character class). Counts are exact integers.
SCRIPT_RANGES = (
    ("latin", "[A-Za-z\u00c0-\u024f]"),
    ("cyrillic", "[\u0400-\u04ff]"),
    ("greek", "[\u0370-\u03ff]"),
    ("arabic", "[\u0600-\u06ff]"),
    ("hebrew", "[\u0590-\u05ff]"),
    ("devanagari", "[\u0900-\u097f]"),
    ("han", "[\u4e00-\u9fff]"),
    ("kana", "[\u3040-\u30ff]"),
    ("hangul", "[\uac00-\ud7af]"),
    ("thai", "[\u0e00-\u0e7f]"),
)


def script_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document script profile: exact codepoint counts per Unicode
    script range and the dominant script (ties broken by range order,
    'und' when no scripted character appears). Pure JVM regexp counts,
    zero shuffle — the script-level complement of the stopword
    ``lang_id`` for languages Latin stopwords cannot see."""
    from .partitioning import spread_input

    df = spread_input(df, ["doc_id", text_col])
    t = F.col(text_col)
    # regexp_count == length-diff for these single-char classes; no
    # stripped-copy allocation per range (see doc_stats, round 6)
    counts = [
        F.regexp_count(t, F.lit(rx)).cast("long").alias(f"n_{name}")
        for name, rx in SCRIPT_RANGES
    ]
    out = df.select("doc_id", *counts)
    best = F.greatest(*[F.col(f"n_{name}") for name, _ in SCRIPT_RANGES])
    script = F.lit("und")
    for name, _ in reversed(SCRIPT_RANGES):
        script = F.when(
            (F.col(f"n_{name}") == best) & (best > 0), F.lit(name)
        ).otherwise(script)
    return out.withColumn("script", script)


def repetition_signals(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style repetition counters, all exact integers/JVM
    expressions (Rae et al. 2021 table A1 signals that are exactly
    computable without a tokenizer):

    - n_lines / n_dup_lines: newline-split lines that appear more than
      once (order-insensitive duplicate mass, counted per occurrence
      beyond the first)
    - n_paras / n_dup_paras: same over blank-line-split paragraphs
    - alpha_tokens: whitespace tokens containing at least one letter
      (the alpha-word fraction's numerator; Gopher drops docs below
      80%)
    - bullet_lines / ellipsis_lines: lines starting with a bullet mark
      or ending with an ellipsis
    """
    t = F.col(text_col)
    lines = F.filter(F.split(t, "\n"), lambda x: x != "")
    paras = F.filter(F.split(t, "\n\n+"), lambda x: x != "")
    toks = _tokens(t)

    def dup_count(arr):
        return (F.size(arr) - F.size(F.array_distinct(arr))).cast("long")

    return df.select(
        "doc_id",
        F.size(lines).cast("long").alias("n_lines"),
        dup_count(lines).alias("n_dup_lines"),
        F.size(paras).cast("long").alias("n_paras"),
        dup_count(paras).alias("n_dup_paras"),
        F.size(F.filter(toks, lambda x: x.rlike("\\p{L}")))
        .cast("long").alias("alpha_tokens"),
        F.size(F.filter(
            lines, lambda x: x.rlike("^\\s*[-*\u2022\u25cf\u25aa]")))
        .cast("long").alias("bullet_lines"),
        F.size(F.filter(
            lines, lambda x: x.rlike("(\\.\\.\\.|\u2026)\\s*$")))
        .cast("long").alias("ellipsis_lines"),
    )


#: GPT-2-family pre-tokenizer shape: contraction suffixes, letter runs,
#: digit runs, punctuation runs (each with an optional leading space),
#: whitespace runs. Identical RE2-compatible pattern on both engines.
BPE_SPLIT_PATTERN = (
    r"'(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+")


def token_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact per-document token counts under two tokenizations:
    whitespace words and BPE-ish pre-tokenizer segments (the unit a
    byte-pair encoder would split further) — the cost estimator for
    training-data pipelines. Pure JVM regex; small inputs spread
    first (round 6 — the BPE regex is the heaviest per-row scan in
    this module and a one-row-group file ran it on one task)."""
    from .partitioning import spread_input

    df = spread_input(df, ["doc_id", text_col])
    t = F.col(text_col)
    return df.select(
        "doc_id",
        F.size(_tokens(t)).cast("long").alias("n_ws_tokens"),
        # regexp_count: same match count as size(regexp_extract_all)
        # without materializing the array of matched substrings (r6)
        F.regexp_count(t, F.lit(BPE_SPLIT_PATTERN))
        .cast("long").alias("n_bpe_segments"),
    )


def quality_filter(df: DataFrame, text_col: str = "text",
                   min_tokens: int = 10, max_punct_ratio: float = 0.3,
                   min_mean_token_len: float = 2.0) -> DataFrame:
    """Gopher-style quality gate as a single JVM-side filter — example
    composition of doc_stats counters into a pushdown-friendly predicate."""
    t = F.col(text_col)
    toks = _tokens(t)
    n_tokens = F.size(toks)
    n_punct = F.regexp_count(t, F.lit(PUNCT_CLASS))
    mean_tok = (F.length(t) - n_tokens + 1) / n_tokens
    return df.filter(
        (n_tokens >= min_tokens)
        & (n_punct <= F.length(t) * max_punct_ratio)
        & (mean_tok >= min_mean_token_len)
    )


# ------------------------------------------------------------------ PII

#: (name, pattern, replacement) — patterns deliberately restricted to
#: the regex subset with identical semantics in Java (Spark), Python
#: (fixture goldens) and RE2 (no lookaround, no backrefs), applied in
#: this order (emails first so phone/IP runs never see their digits).
PII_PATTERNS = [
    ("emails", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
     "<EMAIL>"),
    ("ipv4", r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
    ("phones", r"\+\d[\d .()-]{6,}\d", "<PHONE>"),
]


def pii_scrub(df: DataFrame, text_col: str = "text") -> DataFrame:
    """PII redaction for corpus prep (the C4/Gopher-style pass):
    emails, IPv4 addresses and international phone numbers replaced
    with typed tokens, plus per-document match counts (taken on the
    ORIGINAL text). Pure JVM regexp expressions — zero shuffle, no
    Python in the hot path; at 10^12 rows this is a map-only column
    transform."""
    out = df
    scrubbed = F.col(text_col)
    for name, pat, repl in PII_PATTERNS:
        out = out.withColumn(
            f"n_{name}",
            F.regexp_count(F.col(text_col), F.lit(pat)).cast("long"))
        scrubbed = F.regexp_replace(scrubbed, pat, repl)
    return out.withColumn("text_scrubbed", scrubbed)
