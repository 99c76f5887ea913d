"""Text-analysis functions for training-data pipelines: language-ID
(stopword-overlap heuristic), quality scoring (length / punctuation /
stopword / type-token ratios), BPE-ish token counting, and document
fingerprinting (min-shingle-hash, i.e. winnowing with window = document).

All native Spark SQL expressions with exact DuckDB twins — no Python in
the hot path. Also the engine's one definition of a token, one helper per
dialect: :func:`tokens_col`, :func:`split_ws`, :func:`tokens_sql`.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, functions as F

from podcast_audio_feature_extraction_spark.functions.sqlfmt import ROUND_DIGITS

# The token separator class. It is RE2's ``\s``, which every DuckDB twin
# already means; Java's ``\s`` adds ``\v`` and Python's adds all Unicode
# whitespace, so no tokenizer may use either escape.
WS = r"[ \t\n\f\r]+"
_WS_RE = re.compile(WS)
_WS_CHARS = " \t\n\f\r"

SHINGLE_K = 3
# the hash vocabulary of tokenize_pad: ids 1..VOCAB_SIZE-1, 0 is the pad
VOCAB_SIZE = 32768


def tokens_col(text_col: Column) -> Column:
    """The tokens of a text column: split on :data:`WS`, empties dropped,
    NULL text -> no tokens."""
    return F.filter(F.split(F.coalesce(text_col, F.lit("")), WS), lambda x: x != "")


def split_ws(text: str) -> list[str]:
    """The tokens of a Python string, as :func:`tokens_col` splits them
    (stripping first leaves no empty piece to filter out)."""
    text = text.strip(_WS_CHARS)
    return _WS_RE.split(text) if text else []


def tokens_sql(expr: str) -> str:
    """DuckDB twin of :func:`tokens_col` over a NULL-safe ``expr`` (RE2's
    whitespace escape is exactly :data:`WS`)."""
    return f"list_filter(regexp_split_to_array({expr}, '\\s+'), x -> x <> '')"


def shingles_col(text_col: Column, k: int = SHINGLE_K) -> Column:
    """Distinct k-token shingles; texts with < k tokens fall back to the
    whole text as a single shingle."""
    toks = tokens_col(text_col)
    kgrams = F.transform(
        F.sequence(F.lit(0), F.size(toks) - k),
        lambda i: F.array_join(F.slice(toks, i + 1, k), " "),
    )
    return F.array_distinct(
        F.when(F.size(toks) >= k, kgrams).otherwise(F.array(F.coalesce(text_col, F.lit(""))))
    )


# tiny per-language stopword lists (heuristic language ID)
STOPWORDS = {
    "en": ["the", "a", "and", "of", "to", "is", "in", "it", "that", "was"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "ich", "zu", "mit"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "je", "pas", "pour"],
    "es": ["el", "la", "los", "y", "es", "un", "una", "no", "que", "por"],
}
LANG_ORDER = ["en", "de", "fr", "es"]

# BPE-ish pre-tokenizer: alnum runs or single non-alnum non-space chars.
# This and URL_PATTERN keep their text verbatim in the DuckDB twins; Spark
# matches each through :func:`_extract_all`.
PUNCT_PATTERN = r"[^A-Za-z0-9\s]"
BPE_PATTERN = rf"[A-Za-z0-9]+|{PUNCT_PATTERN}"


def _extract_all(text_col: Column, pattern: str) -> Column:
    """The twins' ``regexp_extract_all(COALESCE(text, ''), pattern)`` in
    Spark. Java's ``\\s`` adds ``\\v`` to RE2's, so each ``\\s`` of a twin
    pattern (always inside a character class) is spelled as :data:`WS`'s."""
    return F.regexp_extract_all(F.coalesce(text_col, F.lit("")), F.lit(pattern.replace(r"\s", _WS_CHARS)), 0)


def lang_guess_col(text_col: Column) -> Column:
    """argmax over stopword-overlap scores; ties resolved by LANG_ORDER;
    all-zero -> 'unknown'."""
    toks = tokens_col(F.lower(text_col))
    scores = {
        lang: F.size(F.array_intersect(toks, F.array(*[F.lit(w) for w in words]))).cast("int")
        for lang, words in STOPWORDS.items()
    }
    best = F.greatest(*scores.values())
    guess = F.lit("unknown")
    for lang in reversed(LANG_ORDER):
        guess = F.when(scores[lang] == best, F.lit(lang)).otherwise(guess)
    return F.when(best > 0, guess).otherwise(F.lit("unknown"))


def lang_guess_sql(text_expr: str = "text") -> str:
    toks = tokens_sql(f"lower(COALESCE({text_expr},''))")
    scores = {lang: f"len(list_intersect({toks}, [{', '.join(repr(w) for w in words)}]))" for lang, words in STOPWORDS.items()}
    best = "greatest(" + ", ".join(scores.values()) + ")"
    case = "CASE "
    for lang in LANG_ORDER:
        case += f"WHEN {scores[lang]} = {best} THEN '{lang}' "
    case += "ELSE 'unknown' END"
    return f"CASE WHEN {best} > 0 THEN ({case}) ELSE 'unknown' END"


def bpe_token_count_col(text_col: Column) -> Column:
    return F.size(_extract_all(text_col, BPE_PATTERN)).cast("int")


def bpe_token_count_sql(text_expr: str = "text") -> str:
    return f"CAST(len(regexp_extract_all(COALESCE({text_expr},''), '{BPE_PATTERN}')) AS INT)"


URL_PATTERN = r"https?://[^\s]+"
EMAIL_PATTERN = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"


def quality_cols(text_col: Column) -> dict[str, Column]:
    """Quality-scoring features: token/char counts, mean token length,
    stopword ratio (en), type-token ratio, punctuation ratio, 3-gram
    repetition ratio (C4-style boilerplate signal), URL/email counts
    (scrub/PII-flag signals)."""
    toks = tokens_col(text_col)
    n = F.size(toks)
    safe_n = F.greatest(n, F.lit(1))
    chars = F.length(F.coalesce(text_col, F.lit("")))
    en_stop = F.size(F.array_intersect(F.transform(toks, F.lower), F.array(*[F.lit(w) for w in STOPWORDS["en"]])))
    punct = F.size(_extract_all(text_col, PUNCT_PATTERN))
    # RAW (non-distinct) 3-gram list: repetition = 1 - distinct/total
    kgrams = F.when(
        n >= 3,
        F.transform(F.sequence(F.lit(0), n - 3), lambda i: F.array_join(F.slice(toks, i + 1, 3), " ")),
    ).otherwise(F.array().cast("array<string>"))
    n_k = F.size(kgrams)
    return {
        "n_tokens": n.cast("int"),
        "n_chars": chars.cast("int"),
        "mean_token_len": F.round(
            F.aggregate(toks, F.lit(0.0), lambda acc, t: acc + F.length(t)) / safe_n, ROUND_DIGITS
        ),
        "stopword_ratio": F.round(en_stop / safe_n.cast("double"), ROUND_DIGITS),
        "type_token_ratio": F.round(F.size(F.array_distinct(toks)) / safe_n.cast("double"), ROUND_DIGITS),
        "punct_ratio": F.round(punct / F.greatest(chars, F.lit(1)).cast("double"), ROUND_DIGITS),
        # a doc with no possible trigram is NOT boilerplate: ratio 0, not 1
        "rep_3gram_ratio": F.round(
            F.when(
                n_k > 0,
                F.lit(1.0) - F.size(F.array_distinct(kgrams)) / n_k.cast("double"),
            ).otherwise(F.lit(0.0)),
            ROUND_DIGITS,
        ),
        "n_urls": F.size(_extract_all(text_col, URL_PATTERN)).cast("int"),
        "n_emails": F.size(_extract_all(text_col, EMAIL_PATTERN)).cast("int"),
    }


def quality_sql(text_expr: str = "text") -> dict[str, str]:
    toks = tokens_sql(f"COALESCE({text_expr},'')")
    n = f"len({toks})"
    safe_n = f"greatest({n}, 1)"
    chars = f"length(COALESCE({text_expr},''))"
    en = "[" + ", ".join(repr(w) for w in STOPWORDS["en"]) + "]"
    kgrams = (
        f"CASE WHEN {n} >= 3 THEN list_transform(range({n} - 2), "
        f"i -> array_to_string({toks}[i+1:i+3], ' ')) ELSE []::VARCHAR[] END"
    )
    return {
        "n_tokens": f"CAST({n} AS INT)",
        "n_chars": f"CAST({chars} AS INT)",
        "mean_token_len": f"round(list_sum(list_transform({toks}, t -> CAST(length(t) AS DOUBLE))) / {safe_n}, {ROUND_DIGITS})",
        "stopword_ratio": f"round(CAST(len(list_intersect(list_transform({toks}, t -> lower(t)), {en})) AS DOUBLE) / {safe_n}, {ROUND_DIGITS})",
        "type_token_ratio": f"round(CAST(len(list_distinct({toks})) AS DOUBLE) / {safe_n}, {ROUND_DIGITS})",
        "punct_ratio": f"round(CAST(len(regexp_extract_all(COALESCE({text_expr},''), '{PUNCT_PATTERN}')) AS DOUBLE) / greatest({chars}, 1), {ROUND_DIGITS})",
        "rep_3gram_ratio": f"round(CASE WHEN len({kgrams}) > 0 THEN 1.0 - CAST(len(list_distinct({kgrams})) AS DOUBLE) / len({kgrams}) ELSE 0.0 END, {ROUND_DIGITS})",
        "n_urls": f"CAST(len(regexp_extract_all(COALESCE({text_expr},''), '{URL_PATTERN}')) AS INT)",
        "n_emails": f"CAST(len(regexp_extract_all(COALESCE({text_expr},''), '{EMAIL_PATTERN}')) AS INT)",
    }


def fingerprint_col(text_col: Column) -> Column:
    """Document fingerprint: min md5 over SHINGLE_K-token shingles
    (winnowing with a document-wide window — stable under shingle
    reordering)."""
    return F.array_min(F.transform(shingles_col(text_col), F.md5))


def fingerprint_sql(text_expr: str = "text") -> str:
    k = SHINGLE_K
    toks = tokens_sql(f"COALESCE({text_expr},'')")
    sh = (
        f"CASE WHEN len({toks}) >= {k} THEN list_transform(range(len({toks}) - {k - 1}), "
        f"i -> array_to_string({toks}[i+1:i+{k}], ' ')) ELSE [COALESCE({text_expr},'')] END"
    )
    return f"list_aggregate(list_transform(list_distinct({sh}), s -> md5(s)), 'min')"


def tokenize_pad_col(text_col: Column, max_len: int = 32) -> Column:
    """F10: tokenize then pad with 0 / truncate to EXACTLY ``max_len`` ids
    (reference pads/truncates to 512 for the rerank model). One expression:
    append max_len pads, slice to max_len. Ids are a portable hash
    vocabulary: md5 prefix mod (VOCAB_SIZE-1), shifted by 1 so id 0 stays
    reserved as the pad token (the BERT-style preprocessing shape of the
    reference's src/search/search.py:244-275)."""
    ids = F.transform(
        tokens_col(text_col),
        lambda t: (F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("long") % F.lit(VOCAB_SIZE - 1) + 1).cast(
            "int"
        ),
    )
    return F.slice(F.concat(ids, F.array_repeat(F.lit(0), max_len)), 1, max_len)


def attention_mask_col(text_col: Column, max_len: int = 32) -> Column:
    """1 for real tokens, 0 for pads — same length contract as
    :func:`tokenize_pad_col`."""
    n = F.size(tokens_col(text_col))
    return F.transform(
        F.sequence(F.lit(0), F.lit(max_len - 1)), lambda i: F.when(i < n, 1).otherwise(0).cast("int")
    )


def tokenize_pad_sql(text_expr: str = "text", max_len: int = 32) -> str:
    """DuckDB twin of :func:`tokenize_pad_col`."""
    toks = tokens_sql(f"COALESCE({text_expr},'')")
    ids = (
        f"list_transform({toks}, t -> "
        f"CAST(CAST('0x' || substr(md5(t), 1, 8) AS BIGINT) % {VOCAB_SIZE - 1} + 1 AS INT))"
    )
    pads = f"list_transform(range({max_len}), i -> 0)"
    return f"({ids} || {pads})[1:{max_len}]"
