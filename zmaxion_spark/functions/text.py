"""Text-analysis column functions — SURVEY.md §2.11 #64–#68 plus the
training-data-pipeline text operators (language-ID, quality scoring,
token counting, document fingerprinting).

All pure Catalyst expressions: at 100 TB these run inside whole-stage
codegen over the parquet scan with no Python worker round-trip.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def normalize(col: Column | str) -> Column:
    """#64: lowercase, strip non-alphanumerics, fold whitespace."""
    c = F.col(col) if isinstance(col, str) else col
    c = F.lower(c)
    c = F.regexp_replace(c, "[^a-z0-9 ]", " ")
    c = F.regexp_replace(c, " +", " ")
    return F.trim(c)


def tokenize(col: Column | str) -> Column:
    """#65: normalized text → ARRAY<STRING> of tokens."""
    return F.split(normalize(col), " ")


# Letter runs | digit runs | punctuation runs — the split pass of a
# BPE pre-tokenizer (GPT-2-style, simplified to a dialect-portable
# character-class form; DuckDB twin uses [:space:] for \s).
BPE_PRETOKEN_RE = r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]+"
BPE_PRETOKEN_RE_SQL = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9[:space:]]+"


def bpe_pretokenize(col: Column | str) -> Column:
    """BPE-pre-tokenizer split: text → array of letter/digit/punct
    pieces (the units a byte-pair encoder would merge within)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract_all(c, F.lit(BPE_PRETOKEN_RE), 0)


def bpe_ish_token_count(col: Column | str) -> Column:
    """Token-count estimate from the pre-tokenizer split — the cheap
    per-document cost signal a training pipeline budgets with."""
    return F.size(bpe_pretokenize(col))


ROLL_BASE = 131
ROLL_MOD = 2147483647  # 2^31 - 1


def rolling_fingerprint(tokens: Column) -> Column:
    """Polynomial rolling hash (Rabin–Karp) over the token stream:
    h ← (h·131 + base32(md5(tok))) mod (2³¹−1).

    Order-sensitive (unlike the set-style xxhash64 ``fingerprint``),
    so it distinguishes permuted documents; intermediate values stay
    under 2³⁹, exact in BIGINT on every engine — reproducible in a
    DuckDB LIST_REDUCE twin."""
    def step(h: Column, t: Column) -> Column:
        x = F.conv(F.substring(F.md5(t.cast("binary")), 1, 8), 16, 10).cast("long")
        return (h * ROLL_BASE + x) % ROLL_MOD

    return F.aggregate(tokens, F.lit(0).cast("long"), step)


def shingles(tokens: Column, k: int = 3) -> Column:
    """#68: distinct k-gram shingles over a token array.

    Formulated as a zip_with fold over k shifted slices rather than a
    per-index slice+concat_ws — k-1 whole-array zips instead of one
    array copy per shingle, ~3.5× faster in interpreted HOF execution
    with byte-identical output."""
    n = F.size(tokens)
    width = n - (k - 1)
    out = F.slice(tokens, 1, width)
    for j in range(2, k + 1):
        out = F.zip_with(
            out, F.slice(tokens, j, width), lambda a, b: F.concat(a, F.lit(" "), b)
        )
    return F.when(n >= k, F.array_distinct(out)).otherwise(
        F.array().cast("array<string>")
    )


def fingerprint(col: Column | str) -> Column:
    """Content fingerprint: 64-bit hash of normalized text. Used as the
    dedup key at scale (8 bytes shuffle instead of the document)."""
    return F.xxhash64(normalize(col))


# Function-word profiles per language (public common stopwords).
LANG_PROFILES: dict[str, tuple[str, ...]] = {
    "de": ("der", "die", "und", "ist", "nicht", "das", "ein", "mit"),
    "en": ("the", "and", "is", "of", "to", "a", "in", "that"),
    "es": ("el", "la", "los", "que", "de", "y", "un", "en"),
    "fr": ("le", "la", "les", "et", "est", "un", "une", "dans"),
    "zh": ("的", "是", "了", "在", "我", "有", "和", "不"),
}


def lang_scores(tokens: Column) -> dict[str, Column]:
    """Per-language function-word hit counts (the n-gram-heuristic
    language-ID core: count profile matches per candidate language)."""
    return {
        lang: F.size(F.array_intersect(tokens, F.array(*[F.lit(w) for w in words])))
        for lang, words in LANG_PROFILES.items()
    }


def lang_id(tokens: Column) -> Column:
    """Predicted language: argmax profile hits, alphabetical tie-break,
    'und' (undetermined) when nothing matches."""
    scores = lang_scores(tokens)
    best = F.greatest(*scores.values())
    out = F.lit("und")
    for lang in sorted(LANG_PROFILES, reverse=True):
        out = F.when((scores[lang] == best) & (best > 0), F.lit(lang)).otherwise(out)
    return out


STOPWORDS = ("the", "a", "and", "is", "of", "to", "in")


def stopword_ratio(tokens: Column) -> Column:
    stops = F.array(*[F.lit(w) for w in STOPWORDS])
    n = F.size(tokens)
    hits = F.size(F.filter(tokens, lambda t: F.array_contains(stops, t)))
    return F.when(n > 0, hits.cast("double") / n).otherwise(F.lit(0.0))


def punct_ratio(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    total = F.length(c)
    alnum = F.length(F.regexp_replace(c, "[^a-z0-9]", ""))
    return F.when(total > 0, (total - alnum).cast("double") / total).otherwise(F.lit(0.0))


def quality_score(text_col: Column | str, tokens: Column) -> Column:
    """Heuristic document quality in [0,1]: rewards moderate length and
    connective density, penalizes punctuation noise. Deterministic,
    SQL-expressible (oracle-verified in q_text_quality)."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    n = F.size(tokens)
    len_term = F.least(n.cast("double") / 100.0, F.lit(1.0))
    stop_term = F.least(stopword_ratio(tokens) * 4, F.lit(1.0))
    punct_term = F.lit(1.0) - punct_ratio(c)
    score = len_term * 0.4 + stop_term * 0.3 + punct_term * 0.3
    # Shared FLOOR(x*1e9 + 0.5)/1e9 quantizer, NOT engine ROUND:
    # Spark's BigDecimal HALF_UP and DuckDB's ROUND disagree by 1e-9
    # when the true value sits within an ulp of a .5 boundary at the
    # 9th decimal (caught by the round-10 sf0.1 bit sweep).
    return F.floor(score * 1e9 + 0.5) / 1e9
