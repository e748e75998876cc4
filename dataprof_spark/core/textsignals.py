"""Per-document text-quality signals, pure Python.

Each function here has an EXACT native-Spark twin in
``dataprof_spark.functions.exprs`` (same regex, same arithmetic). The
pair is tested for parity in tests/test_exprs_parity.py. This module is
the reference semantics; the Spark expressions are the fast path.

The signal set recasts the reference's per-column metrics to
per-document rules (SURVEY.md §1.4):
- null-like / completeness  -> too_short
- consistency mojibake      -> garbled_encoding
  (digraph table from /root/reference/crates/dataprof-metrics/src/
   metrics/consistency.rs:187-210)
- accuracy outliers/domains -> mean_word_length, symbol_ratio bounds
- uniqueness duplicates     -> dup_line_fraction
  (row-duplicate tracker, runtime/streaming_stats.rs:436-482, at line
   granularity inside one document)
- validity dominant-pattern -> stopword_ratio / lang agreement
"""

from __future__ import annotations

import re

from dataprof_spark import config

# --- compiled once per process (module level → once per executor) ----
WORD_RE = re.compile(r"[A-Za-z]+")
NON_LETTER_RE = re.compile(r"[^A-Za-z]")
# re.ASCII: \s must mean the ASCII whitespace set in all three engines
# (Java regex / Spark translate-delete, RE2/DuckDB, Python). Without it
# Python treats NBSP/NEL as whitespace while Spark counts them as
# symbols — keep/drop divergence near the 0.10 symbol_ratio threshold
# on real web text (ADVICE r1).
SYMBOL_RE = re.compile(r"[^A-Za-z0-9\s]", re.ASCII)
ELLIPSIS_RE = re.compile(r"\.\.\.")
STOPWORD_SET = frozenset(config.STOPWORDS_EN)
# Mojibake: U+FFFD replacement char or classic UTF-8-as-Latin-1
# digraphs (the reference's 7-digraph table, consistency.rs:187-210).
MOJIBAKE_DIGRAPHS = ("�", "Ã¡", "Ã©", "Ã­", "Ã³", "Ãº", "Ã±", "Ã¨")
MOJIBAKE_RE = re.compile("|".join(re.escape(d) for d in MOJIBAKE_DIGRAPHS))


def word_count(text: str) -> int:
    """Number of alphabetic word tokens (``[A-Za-z]+`` matches)."""
    return len(WORD_RE.findall(text))


def letter_count(text: str) -> int:
    """Total alphabetic characters (== sum of word lengths)."""
    return len(NON_LETTER_RE.sub("", text))


def mean_word_length(text: str) -> float:
    """letters / words; 0.0 for wordless text."""
    n = word_count(text)
    return (letter_count(text) / n) if n else 0.0


def symbol_count(text: str) -> int:
    """Characters that are neither alphanumeric nor whitespace."""
    return len(SYMBOL_RE.findall(text))


def symbol_ratio(text: str) -> float:
    """symbols / total chars; 0.0 for empty text."""
    return (symbol_count(text) / len(text)) if text else 0.0


def ellipsis_count(text: str) -> int:
    """Non-overlapping ``...`` occurrences."""
    return len(ELLIPSIS_RE.findall(text))


def stopword_count(text: str) -> int:
    """English stopword hits: alphabetic tokens ([A-Za-z]+ of the
    lowercased text) that are in the stopword set. Token-extraction
    (not `\\b`-regex) so the identical definition runs fast in Spark
    (array filter) and DuckDB (list_filter) with zero dialect risk."""
    return sum(
        1 for w in WORD_RE.findall(text.lower()) if w in STOPWORD_SET
    )


def line_counts(text: str) -> tuple[int, int]:
    """(total lines, distinct lines) splitting on '\\n'."""
    lines = text.split("\n")
    return len(lines), len(set(lines))


def dup_line_fraction(text: str) -> float:
    """1 - distinct/total lines (per-document recast of the reference's
    row-duplicate tracker)."""
    total, distinct = line_counts(text)
    return 1.0 - distinct / total if total else 0.0


def mojibake_count(text: str) -> int:
    """Occurrences of U+FFFD / mojibake digraphs."""
    return len(MOJIBAKE_RE.findall(text))


def signals(text: str) -> dict:
    """All gate-relevant signals for one document, one dict."""
    wc = word_count(text)
    return {
        "word_count": wc,
        "mean_word_length": mean_word_length(text),
        "symbol_ratio": symbol_ratio(text),
        "ellipsis_count": ellipsis_count(text),
        "stopword_count": stopword_count(text),
        "dup_line_fraction": dup_line_fraction(text),
        "mojibake_count": mojibake_count(text),
    }
