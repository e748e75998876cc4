"""Central configuration: gate thresholds, quality weights, seeds.

Quality-dimension weights mirror the reference's defaults
(/root/reference/crates/dataprof-core/src/config.rs:24-36):
completeness 0.25, consistency 0.20, uniqueness 0.15, accuracy 0.15,
timeliness 0.10, validity 0.10, precision 0.05 — renormalized over the
dimensions actually assessed (quality.rs:395-411).

Gate thresholds are Gopher/C4-style heuristics recast from the
reference's per-column rules (SURVEY.md §2.4 A19-A23) to per-document
rules. All constants are module-level so the single-node labeler and
the Spark expressions share one source of truth.
"""

from __future__ import annotations

# ---------------------------------------------------------------- seeds
SEED = 42  # every sample / rand / hash-salt in the engine uses this

# ------------------------------------------------- quality dim weights
QUALITY_WEIGHTS = {
    "completeness": 0.25,
    "consistency": 0.20,
    "uniqueness": 0.15,
    "accuracy": 0.15,
    "timeliness": 0.10,
    "validity": 0.10,
    "precision": 0.05,
}

# ------------------------------------------------------- gate thresholds
# Evaluated in this order; the FIRST failing gate is the drop_reason.
# (FIXTURES.md A2 drop_reason enum.)
MIN_WORDS = 20                 # too_short: fewer alphabetic words
MEAN_WORD_LEN_MIN = 3.0        # mean_word_length outside [min, max]
MEAN_WORD_LEN_MAX = 10.0
MAX_SYMBOL_RATIO = 0.10        # non-alnum-non-space chars / total chars
MAX_ELLIPSIS_PER_WORD = 0.05   # '...' occurrences per word
MIN_STOPWORD_COUNT = 2         # Gopher: must contain >= 2 stopword hits
MAX_DUP_LINE_FRACTION = 0.30   # 1 - distinct_lines/lines
MAX_PERPLEXITY = 40.0          # char-LM pseudo-perplexity ceiling
                               # (natural prose ~16-22, gibberish 200+)

# Drop reasons, in evaluation order (garbled first — encoding damage
# invalidates every downstream signal, mirroring the reference's
# fail-closed discipline, python/dataprof/__init__.py:737-790).
DROP_REASONS = [
    "garbled_encoding",
    "too_short",
    "mean_word_length",
    "symbol_ratio",
    "ellipsis_ratio",
    "stopword_ratio",
    "dup_line_fraction",
    "lang_mismatch",
    "high_perplexity",
]

# English stopword list used by the stopword gate and the stopword
# langid. Fixed 20-word list (top English function words).
STOPWORDS_EN = (
    "the", "be", "to", "of", "and", "a", "in", "that", "have", "it",
    "is", "was", "for", "on", "are", "as", "with", "his", "they", "at",
)

# Small per-language stopword profiles for the SQL-expressible
# stopword-langid (operators/gates.py, functions/exprs.py). Keyed by
# ISO 639-1 code.
STOPWORDS_BY_LANG = {
    "en": STOPWORDS_EN,
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "eine",
           "mit", "von", "zu", "den", "auf", "für", "sich", "dem",
           "ich", "des", "sie", "im"),
    "fr": ("le", "la", "les", "des", "une", "est", "dans", "pour",
           "que", "qui", "sur", "pas", "avec", "par", "au", "ce",
           "il", "ne", "se", "du"),
    "es": ("el", "la", "los", "las", "una", "es", "en", "por", "para",
           "que", "con", "del", "se", "su", "al", "lo", "como", "más",
           "pero", "sus"),
    "it": ("il", "la", "che", "di", "non", "una", "per", "con", "del",
           "gli", "più", "nel", "della", "sono", "si", "come", "anche",
           "questo", "alla", "ma"),
}

# Languages the n-gram langid model knows; anything else scores 0.
LANGID_LANGS = tuple(STOPWORDS_BY_LANG)

# --------------------------------------------------------- PII scrub
# Replacement tokens, per category. Byte-identical contract: the
# labeler and the Spark pandas UDF call the SAME Python function with
# these SAME constants (core/scrub.py).
SCRUB_TOKENS = {
    "email": "<EMAIL>",
    "phone": "<PHONE>",
    "ip": "<IP>",
    "blocklist": "<BLOCKED>",
}

# Toxicity / unsafe-content blocklist terms (synthetic, lowercase).
BLOCKLIST_TERMS = (
    "badword1", "badword2", "slursample", "toxicterm", "evilphrase",
)

# --------------------------------------------- distinct-count contract
# Mirrors the reference's exact-below-threshold / HLL-above contract
# (cardinality.rs:21, 50-223): exact HashSet up to 10k distinct, then
# HyperLogLog precision 14 (~0.81% rsd) with is_approximate provenance.
# HLL_LG_K is that precision as the lgConfigK of Spark's DataSketches
# hll_sketch_agg (2^14 registers; exprs.hll_distinct).
EXACT_DISTINCT_THRESHOLD = 10_000
HLL_LG_K = 14

# ------------------------------------------------------- profiler knobs
TOP_K_VALUES = 10              # top/bottom frequency truncation (A16)
OUTLIER_IQR_K = 1.5            # Tukey fence multiplier (A9)
OUTLIER_MIN_SAMPLES = 10       # A9 global-ratio minimum
HIGH_CARDINALITY_RATIO = 0.95  # A14 warning threshold
MAX_NULL_PERCENTAGE = 50.0     # A19 null-column threshold
STALE_YEARS = 5                # A22 stale-date horizon
