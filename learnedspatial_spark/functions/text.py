"""Text-analysis functions for web-scale training-data pipelines.

New engine surface (the reference has no string functions at all,
SURVEY.md §2.8); required as first-class components for the 100 TB
training-data use case: language ID, quality scoring, token counting,
document fingerprinting.

Design rule: everything here is either (a) a SQL expression of built-in
functions (JVM, whole-stage codegen) or (b) batched NumPy inside pandas
UDFs.  The SQL variants use only replace/length arithmetic so the
DuckDB oracle computes bit-identical values.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

# language marker tokens: per-language function-word hit scores.  Scores
# are raw length deltas (multiples of marker length) — integer-exact in
# both engines, no division.
LANG_MARKERS: dict[str, list[str]] = {
    "en": [" the ", " and ", " of "],
    "de": [" der ", " und ", " die "],
    "fr": [" le ", " et ", " les "],
    "es": [" el ", " y ", " los "],
    "pt": [" o ", " e ", " os "],
}
LANG_ORDER = ["en", "de", "fr", "es", "pt"]  # deterministic tie priority

STOPWORDS = [" the ", " a ", " and ", " of ", " to "]


def occurrence_score_sql(text_expr: str, marker: str) -> str:
    """length(text) - length(replace(text, marker, '')) — #occurrences x
    len(marker); integer, identical in Spark SQL and DuckDB."""
    esc = marker.replace("'", "''")
    return f"(length({text_expr}) - length(replace({text_expr}, '{esc}', '')))"


def token_count_sql(text_expr: str) -> str:
    """Whitespace token count = #single-space splits (split keeps empty
    strings in both engines — verified identical)."""
    return f"({occurrence_score_sql(text_expr, ' ')} + 1)"


# BPE-ish tokenizer classes (GPT-2-style: contraction suffixes, space-
# prefixed letter runs, digit runs, punctuation runs, whitespace runs) —
# deliberately LOOKAHEAD-FREE and \p-free so Java regex (Spark) and RE2
# (DuckDB) tokenize identically; whitespace chars are embedded literally
# (a backslash escape like \t parses differently in the two engines'
# string literals).  An approximation of a real BPE pre-tokenizer by
# design — the unit is the pre-merge word piece, not the merged token.
BPE_TOKEN_PATTERN = ("'(s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+"
                     "| ?[^ \t\nA-Za-z0-9]+|[ \t\n]+")


def token_count_bpe_spark_sql(text_expr: str) -> str:
    pat = BPE_TOKEN_PATTERN.replace("'", "''")
    return f"size(regexp_extract_all({text_expr}, '{pat}', 0))"


def token_count_bpe_duckdb_sql(text_expr: str) -> str:
    pat = BPE_TOKEN_PATTERN.replace("'", "''")
    return f"len(regexp_extract_all({text_expr}, '{pat}', 0))"


def quality_score_sql(text_expr: str) -> str:
    """Heuristic quality score from stopword mass, punctuation and length:
    ``(stop_mass * 1000 + dots * 10 + commas * 10) / nchars`` — one float64
    division of integers, bit-identical across engines."""
    stop = " + ".join(occurrence_score_sql(text_expr, s) for s in STOPWORDS)
    dots = occurrence_score_sql(text_expr, ".")
    commas = occurrence_score_sql(text_expr, ",")
    return (f"((({stop}) * 1000 + ({dots}) * 10 + ({commas}) * 10)"
            f" / cast(greatest(length({text_expr}), 1) as double))")


def langid_sql(text_expr: str) -> str:
    """N-gram/marker-heuristic language ID: argmax of per-language marker
    mass with deterministic priority tie-break (LANG_ORDER)."""
    scores = {
        lang: "(" + " + ".join(occurrence_score_sql(text_expr, m) for m in ms) + ")"
        for lang, ms in LANG_MARKERS.items()
    }
    expr = f"'{LANG_ORDER[-1]}'"
    for lang in reversed(LANG_ORDER[:-1]):
        later = LANG_ORDER[LANG_ORDER.index(lang) + 1:]
        cond = " and ".join(f"{scores[lang]} >= {scores[o]}" for o in later)
        expr = f"(case when {cond} then '{lang}' else {expr} end)"
    return expr


def fingerprint_md5_sql(text_expr: str) -> str:
    """Full-document fingerprint: md5 hex (identical in both engines)."""
    return f"md5({text_expr})"


# --------------------------------------------------- rolling fingerprint ---
#
# Rabin-Karp content fingerprint: min over all ``window``-char windows of
# the polynomial hash fold (acc*B + code) % M, code = the character's
# Unicode CODE POINT (`ascii()` returns the code point in both Spark and
# DuckDB — verified incl. multibyte).  M = 2^31-1 keeps every intermediate
# < 2^57 — exact in bigint/int64 in Spark SQL, DuckDB, and NumPy, so all
# three implementations agree bit-for-bit on any text.

ROLLING_WINDOW = 16
ROLLING_BASE = 257
ROLLING_MOD = 2147483647  # 2^31 - 1


def rolling_fingerprint_spark_expr(text_expr: str, window: int = ROLLING_WINDOW) -> str:
    """Spark SQL: higher-order aggregate fold per window, array_min over
    window starts — whole-stage JVM, no Python."""
    B, M = ROLLING_BASE, ROLLING_MOD
    full = (f"aggregate(sequence(1, length({text_expr})), cast(0 as bigint), "
            f"(acc, i) -> (acc * {B} + ascii(substring({text_expr}, i, 1))) % {M})")
    win = (f"array_min(transform(sequence(1, length({text_expr}) - {window - 1}), "
           f"i -> aggregate(sequence(i, i + {window - 1}), cast(0 as bigint), "
           f"(acc, j) -> (acc * {B} + ascii(substring({text_expr}, j, 1))) % {M})))")
    return f"(case when length({text_expr}) < {window} then {full} else {win} end)"


def rolling_fingerprint_duckdb_sql(text_expr: str, window: int = ROLLING_WINDOW) -> str:
    """DuckDB twin: list_reduce folds (prepend the 0 init), list min."""
    B, M = ROLLING_BASE, ROLLING_MOD

    def fold(lo: str, hi: str) -> str:
        return (f"list_reduce(list_prepend(cast(0 as bigint), "
                f"list_transform(range({lo}, {hi}), "
                f"j -> cast(ascii(substring({text_expr}, cast(j as int), 1)) as bigint))), "
                f"(acc, c) -> (acc * {B} + c) % {M})")

    full = fold("1", f"length({text_expr}) + 1")
    win = (f"list_aggregate(list_transform(range(1, length({text_expr}) - {window - 2}), "
           f"i -> list_reduce(list_prepend(cast(0 as bigint), "
           f"list_transform(range(i, i + {window}), "
           f"j -> cast(ascii(substring({text_expr}, cast(j as int), 1)) as bigint))), "
           f"(acc, c) -> (acc * {B} + c) % {M})), 'min')")
    return f"(case when length({text_expr}) < {window} then {full} else {win} end)"


def rolling_hash_np(texts: pd.Series, window: int = ROLLING_WINDOW,
                    mod: int = ROLLING_MOD, base: int = ROLLING_BASE) -> np.ndarray:
    """NumPy kernel twin of the SQL fingerprint (tests cross-check the
    three implementations).  Folds Unicode CODE POINTS — `ascii()` returns
    the code point in both Spark and DuckDB, so byte-level folding would
    diverge on any non-ASCII document.  Vectorized: per-window polynomial
    sums stay < 2^43 + codepoint magnitude, exact in int64."""
    out = np.empty(len(texts), dtype=np.int64)
    powers = np.array([pow(base, window - 1 - j, mod) for j in range(window)], dtype=np.int64)
    for i, t in enumerate(texts.to_numpy()):
        b = np.fromiter((ord(c) for c in str(t)), dtype=np.int64, count=len(str(t)))
        if b.shape[0] < window:
            h = 0
            for c in b:
                h = (h * base + int(c)) % mod
            out[i] = h
            continue
        n_win = b.shape[0] - window + 1
        idx = np.arange(n_win)[:, None] + np.arange(window)[None, :]
        h = (b[idx] * powers[None, :]).sum(axis=1) % mod
        out[i] = int(h.min())
    return out
