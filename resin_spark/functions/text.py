"""Text analysis (SURVEY.md §2 block C) — all JVM-side expressions.

Spark-first re-expression of the reference's string toolchain
(reference: src/Resin.TextAnalysis/StringAnalyzer.cs — SplitWords,
FindUnicodeRange; src/Resin.TextAnalysis/HashOperations.cs — Knuth
hash; src/Resin.MachineLearning/LexiconBuilder.cs). Everything here is
built from `pyspark.sql.functions` so it whole-stage-codegens; no
Python in the hot path. Each helper has a matching `*_sql` oracle
fragment producing bit-identical results in DuckDB.

Tokenisation contract (shared with the oracles): lowercase, split on
runs of non-[a-z0-9], drop empties — the ASCII projection of the
reference's Unicode-category SplitWords rule.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

TOKEN_SPLIT_RE = "[^a-z0-9]+"
# BPE-ish pre-tokeniser: letter runs, digit runs, single other glyphs.
BPE_RE = r"[a-z]+|[0-9]+|[^a-z0-9\s]"
MOD = 1_000_000_007
CHAR_MULT = 31
TOKEN_MULT = 131

# Tiny per-language marker-word profiles for the heuristic language ID.
LANG_PROFILES: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to"),
    "de": ("der", "die", "das", "und", "ist"),
    "fr": ("le", "la", "les", "et", "est"),
    "es": ("el", "la", "los", "y", "es"),
    "zh": ("de", "shi", "le", "he", "zai"),
}
STOPWORDS = LANG_PROFILES["en"]


def tokens(col: Column | str) -> Column:
    """Token array: lowercase, split on non-alphanumeric runs, no empties."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(F.lower(c), TOKEN_SPLIT_RE), lambda x: x != "")


def prepare_documents(docs: DataFrame) -> DataFrame:
    """The one tokenized-documents shape every text operator reads: the
    input columns plus ``has_text`` (text is not NULL), ``h``
    (md5(text)) and ``tk`` (:func:`tokens`). A frame that already
    carries ``tk`` passes through unchanged, so a caller can prepare
    (and cache) the corpus once and hand it to several operators —
    the release cards do, with ``text`` dropped. Standalone, the
    projection is lazy and each operator's plan prunes the columns it
    does not read."""
    if "tk" in docs.columns:
        return docs
    return docs.select(
        "*",
        F.col("text").isNotNull().alias("has_text"),
        F.md5("text").alias("h"),
        tokens("text").alias("tk"),
    )


def tokens_sql(expr: str) -> str:
    return (
        f"list_filter(regexp_split_to_array(lower({expr}), '{TOKEN_SPLIT_RE}'),"
        " x -> x <> '')"
    )


def bpe_tokens(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract_all(F.lower(c), F.lit(BPE_RE), 0)


def bpe_tokens_sql(expr: str) -> str:
    return f"regexp_extract_all(lower({expr}), '{BPE_RE}')"


def token_hash(tok: Column) -> Column:
    """Polynomial rolling hash of a token's char codes, mod 1e9+7.

    Engine-portable analog of the reference's Knuth multiplicative
    string hash (HashOperations.cs:10-19): same shape (iterate chars,
    multiply-accumulate), prime modulus instead of 2^64 wraparound so
    both Spark and DuckDB agree without unsigned arithmetic.
    """
    return F.aggregate(
        F.split(tok, ""),
        F.lit(0).cast("long"),
        lambda acc, ch: (acc * CHAR_MULT + F.ascii(ch)) % MOD,
    )


def token_hash_sql(expr: str) -> str:
    return (
        f"list_reduce(list_transform(string_split({expr}, ''),"
        f" c -> CAST(ascii(c) AS BIGINT)), (a, b) -> (a * {CHAR_MULT} + b) % {MOD})"
    )


def doc_fingerprint(text_col: Column | str) -> Column:
    """Order-sensitive document fingerprint: rolling hash over the token
    stream's per-token hashes. Equal docs → equal fingerprints; any
    token reorder/change → different (w.h.p.)."""
    return F.aggregate(
        tokens(text_col),
        F.lit(0).cast("long"),
        lambda acc, tok: (acc * TOKEN_MULT + token_hash(tok)) % MOD,
    )


def doc_fingerprint_sql(expr: str) -> str:
    toks = tokens_sql(expr)
    per_tok = token_hash_sql("t")
    return (
        f"CASE WHEN len({toks}) = 0 THEN 0 ELSE "
        f"list_reduce(list_transform({toks}, t -> {per_tok}),"
        f" (a, b) -> (a * {TOKEN_MULT} + b) % {MOD}) END"
    )


def stopword_count(toks: Column, words: tuple[str, ...] = STOPWORDS) -> Column:
    return F.size(F.filter(toks, lambda t: t.isin(*words)))


def stopword_count_sql(toks_expr: str, words: tuple[str, ...] = STOPWORDS) -> str:
    lst = ", ".join(f"'{w}'" for w in words)
    return f"len(list_filter({toks_expr}, t -> t IN ({lst})))"


def punct_count(col: Column | str) -> Column:
    """Characters that are neither alphanumeric nor whitespace."""
    c = F.col(col) if isinstance(col, str) else col
    return F.length(F.regexp_replace(F.lower(c), r"[a-z0-9\s]", ""))


def punct_count_sql(expr: str) -> str:
    return f"length(regexp_replace(lower({expr}), '[a-z0-9\\s]', '', 'g'))"


# Full-fidelity SplitWords (reference: StringAnalyzer.cs:252-309 with the
# _validData category set at :16-22): words are runs of Letter / Number /
# Currency / Modifier / OtherSymbol chars, math symbols (Sm) emit as
# standalone single-char tokens that also terminate the current word, and
# punctuation (internal or standalone), whitespace, and controls never
# reach a token. One alternation expresses the whole state machine; Java
# regex and RE2 assign identical Unicode categories (tested on every
# string from StringAnalyzerTests.cs).
SPLIT_WORDS_RE = r"\p{Sm}|[\p{L}\p{N}\p{Sc}\p{Sk}\p{So}]+"


def split_words(col: Column | str) -> Column:
    """Case-preserving Unicode-category tokenizer — full parity with the
    reference's SplitWords, unlike :func:`tokens` (its lowercase-ASCII
    projection used by the corpus-statistics queries)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract_all(c, F.lit(SPLIT_WORDS_RE), 0)


def split_words_sql(expr: str) -> str:
    return f"regexp_extract_all({expr}, '{SPLIT_WORDS_RE}')"
