"""Native-Spark twins of dataprof_spark.core.textsignals.

Every expression here is built from `pyspark.sql.functions` only — it
stays inside whole-stage codegen, shuffles nothing, and is exactly the
kind of per-row projection that scales linearly to 100 TB. The regex
patterns are restricted to constructs with identical semantics in
Java regex (Spark), RE2 (DuckDB oracle), and Python `re` (labeler):
plain character classes and non-capturing groups. Word boundaries
are the exception: Java's `\\b` counts non-ASCII letters (é, 中, ١)
as word characters where RE2 and Python `re.ASCII` do not, so the
Spark-side phone/IPv4 counts spell the boundary as ASCII
look-arounds. RE2 has no look-behind, so the DuckDB SQL keeps `\\b`.

Parity is enforced by tests/test_exprs_parity.py (Spark expression vs
pure-Python function on the same rows).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from dataprof_spark import config


def bind_once(col: Column, f) -> Column:
    """Evaluate ``col`` exactly once per row and pass it to ``f`` as a
    bound lambda variable — Catalyst has no common-subexpression
    elimination inside an expression tree, so a subexpression
    referenced N times is otherwise COMPUTED N times (the r3 minhash
    finding: 64 evaluations per row). ``transform(array(col),
    x -> f(x))[1]`` binds the value once; lambda-variable reads are
    free."""
    return F.element_at(F.transform(F.array(col), f), 1)

# Canonical pattern strings — single source for Spark, DuckDB oracle
# SQL, and (via core/textsignals.py) Python re.
WORD_PAT = "[A-Za-z]+"
NON_LETTER_PAT = "[^A-Za-z]"
SYMBOL_PAT = "[^A-Za-z0-9\\s]"
ELLIPSIS_PAT = "\\.\\.\\."
MOJIBAKE_PAT = "�|Ã¡|Ã©|Ã­|Ã³|Ãº|Ã±|Ã¨"

EMAIL_PAT = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
PHONE_PAT = "\\b\\d{3}[-. ]\\d{3}[-. ]\\d{4}\\b"
IPV4_PAT = "\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b"


def _ascii_bounded(pat: str) -> str:
    """``\\b<body>\\b`` for Java regex: the two ``\\b`` become ASCII
    look-arounds (see the module docstring)."""
    body = pat.removeprefix("\\b").removesuffix("\\b")
    return f"(?<![A-Za-z0-9_]){body}(?![A-Za-z0-9_])"


_PHONE_PAT_JAVA = _ascii_bounded(PHONE_PAT)
_IPV4_PAT_JAVA = _ascii_bounded(IPV4_PAT)


def word_count(c: Column) -> Column:
    return F.regexp_count(c, F.lit(WORD_PAT)).cast("long")


_LETTERS = "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz"


def letter_count(c: Column) -> Column:
    # length - length(translate-delete letters): one linear pass,
    # no regex-replace string building
    return (F.length(c) - F.length(F.translate(c, _LETTERS, ""))).cast(
        "long"
    )


def mean_word_length(c: Column) -> Column:
    wc = word_count(c)
    return F.when(wc > 0, letter_count(c) / wc).otherwise(F.lit(0.0))


# every char the symbol gate does NOT count: letters, digits, ASCII
# whitespace (the \s set shared by Java/RE2/Python on ASCII text).
# Known edge: RE2's \s omits \x0b (vertical tab), so a \v counts as
# a symbol only in the DuckDB oracle — Spark and the Python labeler
# (re.ASCII) agree with each other, which is the contract that
# matters; no fixture emits \v.
_ALLOWED_CHARS = (
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789"
    " \t\n\r\f\x0b"
)


def symbol_count(c: Column) -> Column:
    # translate-delete of allowed chars == regexp_count('[^A-Za-z0-9\s]')
    # but one linear pass instead of a per-char negated-class regex
    # (~14x faster; parity asserted in tests/test_exprs_parity.py)
    return F.length(F.translate(c, _ALLOWED_CHARS, "")).cast("long")


def symbol_ratio(c: Column) -> Column:
    n = F.length(c)
    return F.when(n > 0, symbol_count(c) / n).otherwise(F.lit(0.0))


def ellipsis_count(c: Column) -> Column:
    return F.regexp_count(c, F.lit(ELLIPSIS_PAT)).cast("long")


def stopword_count(c: Column) -> Column:
    # token extraction + set membership (same definition as the
    # Python core): cheaper than a 20-alternation \b regex and
    # dialect-identical everywhere
    words = F.regexp_extract_all(F.lower(c), F.lit(WORD_PAT), F.lit(0))
    return F.size(
        F.filter(words, lambda x: x.isin(*config.STOPWORDS_EN))
    ).cast("long")


def line_count(c: Column) -> Column:
    return F.size(F.split(c, "\n", -1)).cast("long")


def distinct_line_count(c: Column) -> Column:
    return F.size(F.array_distinct(F.split(c, "\n", -1))).cast("long")


def dup_line_fraction(c: Column) -> Column:
    total = line_count(c)
    return F.when(
        total > 0, 1.0 - distinct_line_count(c) / total
    ).otherwise(F.lit(0.0))


def mojibake_count(c: Column) -> Column:
    return F.regexp_count(c, F.lit(MOJIBAKE_PAT)).cast("long")


def decimal_scale(c: Column, max_scale: int = 6) -> Column:
    """Effective decimal scale: smallest s in 0..max_scale with
    round(x, s) == x (reference A24 precision.rs:21-88, round-trip
    formulation — same arithmetic in every engine)."""
    expr = F.lit(max_scale)
    for s in range(max_scale - 1, -1, -1):
        expr = F.when(F.round(c, s) == c, F.lit(s)).otherwise(expr)
    return expr.cast("long")


def email_count(c: Column) -> Column:
    return F.regexp_count(c, F.lit(EMAIL_PAT)).cast("long")


def phone_count(c: Column) -> Column:
    return F.regexp_count(c, F.lit(_PHONE_PAT_JAVA)).cast("long")


def ipv4_count(c: Column) -> Column:
    return F.regexp_count(c, F.lit(_IPV4_PAT_JAVA)).cast("long")


def _cascade(
    *,
    wc: Column,
    letters: Column,
    stop: Column,
    symr: Column,
    ell: Column,
    moji: Column,
    dupf: Column,
    eng: Column,
) -> Column:
    """The seven-gate heuristic cascade over precomputed signals: the
    first failing gate's reason, NULL when the document passes. Gate
    order and thresholds are core.gates.heuristic_reason's; the DuckDB
    twin is queries._gates_reason_sql. Callers pass either lazily
    evaluated signal expressions (heuristic_reason) or the fields of a
    bound struct (heuristic_reason_and_pnum)."""
    mwl = F.when(wc > 0, letters / wc).otherwise(F.lit(0.0))
    return (
        F.when(moji > 0, F.lit("garbled_encoding"))
        .when(wc < config.MIN_WORDS, F.lit("too_short"))
        .when(
            (mwl < config.MEAN_WORD_LEN_MIN)
            | (mwl > config.MEAN_WORD_LEN_MAX),
            F.lit("mean_word_length"),
        )
        .when(symr > config.MAX_SYMBOL_RATIO, F.lit("symbol_ratio"))
        .when(
            ell / wc > config.MAX_ELLIPSIS_PER_WORD,
            F.lit("ellipsis_ratio"),
        )
        .when(
            eng & (stop < config.MIN_STOPWORD_COUNT),
            F.lit("stopword_ratio"),
        )
        .when(
            dupf > config.MAX_DUP_LINE_FRACTION,
            F.lit("dup_line_fraction"),
        )
        .otherwise(F.lit(None).cast("string"))
    )


def heuristic_reason(c: Column, *, english: Column | bool = True) -> Column:
    """First-failing-gate drop reason (native twin of
    core.gates.heuristic_reason); NULL when the document passes.
    NULL text is normalized to empty (drops as too_short), matching
    the labeler.

    Expression form (r4): a kept document evaluates EVERY branch of
    the CASE, and the naive composition ran the [A-Za-z]+ regex three
    times per row (word_count in three conditions) plus separate
    letter-translate and stopword-extraction passes — Catalyst has no
    CSE inside an expression tree. The word-run array is now
    extracted ONCE (bind_once) and wc/letters/mean-word-length/
    stopword-count all derive from it with O(words) array ops:
    size(), length(concat_ws()) — every letter is inside a word run
    by definition, so summed run length == letter_count. Definition
    unchanged; parity pinned by test_exprs_parity + the doc_gates
    oracle + test_pipeline_parity (F1)."""
    c = F.coalesce(c, F.lit(""))
    eng = F.lit(english) if isinstance(english, bool) else english

    def _reason(t: Column) -> Column:
        words = F.regexp_extract_all(F.lower(t), F.lit(WORD_PAT), F.lit(0))
        return bind_once(words, lambda ws: _reason_from(t, ws, eng))

    def _reason_from(t: Column, ws: Column, eng: Column) -> Column:
        return _cascade(
            wc=F.size(ws).cast("long"),
            letters=F.length(F.concat_ws("", ws)).cast("long"),
            stop=F.size(
                F.filter(ws, lambda x: x.isin(*config.STOPWORDS_EN))
            ).cast("long"),
            symr=symbol_ratio(t),
            ell=ellipsis_count(t),
            moji=mojibake_count(t),
            dupf=dup_line_fraction(t),
            eng=eng,
        )

    return bind_once(c, _reason)


def textstats_struct(c: Column) -> Column:
    """All doc_textstats signals as ONE bound struct (r8): the
    column-per-signal form ran the word-run regex, the letter
    translate and the symbol translate twice each (the ratio columns
    re-derive their numerators; Catalyst has no CSE across projection
    expressions). Field values are bit-identical to the standalone
    functions, including NULL-text propagation (counts NULL, ratios
    0.0 — no coalesce here, unlike the gate path). Consumers must
    reference the struct column ONCE and expand fields in a SECOND
    projection; CollapseProject refuses to merge a multi-referenced
    non-cheap alias (SPARK-36718), so the struct is evaluated once
    per row."""

    def _outer(t: Column) -> Column:
        words = F.regexp_extract_all(F.lower(t), F.lit(WORD_PAT), F.lit(0))

        def _sig(ws: Column) -> Column:
            return F.struct(
                F.size(ws).cast("long").alias("wc"),
                letter_count(t).alias("letters"),
                symbol_count(t).alias("symbols"),
                ellipsis_count(t).alias("ell"),
                F.size(
                    F.filter(ws, lambda x: x.isin(*config.STOPWORDS_EN))
                ).cast("long").alias("stop"),
                line_count(t).alias("lines"),
                F.length(t).alias("n"),
            )

        return bind_once(words, lambda ws: bind_once(_sig(ws), _from))

    def _from(s: Column) -> Column:
        wc = s["wc"]
        return F.struct(
            wc.alias("word_count"),
            s["letters"].alias("letter_count"),
            s["symbols"].alias("symbol_count"),
            s["ell"].alias("ellipsis_count"),
            s["stop"].alias("stopword_count"),
            s["lines"].alias("line_count"),
            F.round(
                F.when(wc > 0, s["letters"] / wc).otherwise(F.lit(0.0)), 6
            ).alias("mean_word_length"),
            F.round(
                F.when(s["n"] > 0, s["symbols"] / s["n"]).otherwise(
                    F.lit(0.0)
                ),
                6,
            ).alias("symbol_ratio"),
        )

    return bind_once(c, _outer)


def heuristic_reason_and_pnum(
    c: Column, *, english: Column | bool, weights: dict[str, float]
) -> Column:
    """Fused gate cascade + text-only quality-score terms:
    struct(reason STRING, pnum DOUBLE) where pnum is the
    weighted sum of the four text-derived dimensions
    (completeness/consistency/uniqueness/accuracy — validity is added
    by the caller from the langid UDF output, timeliness from the
    timestamp column).

    Why it exists (r8): gates.decide computed the gate cascade AND
    the quality score as two separate expression trees — Catalyst has
    no CSE across them, so the word-run regex, mojibake regex,
    symbol translate and line split each ran TWICE per document
    (measured sf1.0: full decide 1.19 s vs 0.80 s for the sum of its
    stages — the gap is the duplicated signal pass). Here every
    signal is computed ONCE into a bound struct and both outputs
    derive from it. The score needs symr/moji/dupf for every row
    anyway, so the eager struct wastes nothing.

    Term order and arithmetic mirror the labeler
    (core.gates.quality_score) exactly: left-associated
    completeness→consistency→uniqueness→accuracy weighted sum, so
    (pnum + validity*w)/den is bit-identical to its score. NULL text
    is treated as '' for ALL terms — matching the labeler's
    ``text = text or ''``."""
    c0 = F.coalesce(c, F.lit(""))
    eng = F.lit(english) if isinstance(english, bool) else english

    def _outer(t: Column) -> Column:
        words = F.regexp_extract_all(F.lower(t), F.lit(WORD_PAT), F.lit(0))

        def _sig(ws: Column) -> Column:
            return F.struct(
                F.size(ws).cast("long").alias("wc"),
                F.length(F.concat_ws("", ws)).cast("long").alias(
                    "letters"
                ),
                F.size(
                    F.filter(ws, lambda x: x.isin(*config.STOPWORDS_EN))
                ).cast("long").alias("stop"),
                symbol_ratio(t).alias("symr"),
                ellipsis_count(t).alias("ell"),
                mojibake_count(t).alias("moji"),
                dup_line_fraction(t).alias("dupf"),
            )

        return bind_once(words, lambda ws: bind_once(_sig(ws), _from))

    def _from(s: Column) -> Column:
        wc = s["wc"]
        reason = _cascade(
            wc=wc,
            letters=s["letters"],
            stop=s["stop"],
            symr=s["symr"],
            ell=s["ell"],
            moji=s["moji"],
            dupf=s["dupf"],
            eng=eng,
        )
        completeness = F.least(
            F.lit(1.0), wc / F.lit(float(config.MIN_WORDS))
        )
        consistency = F.when(s["moji"] > 0, 0.0).otherwise(1.0)
        uniqueness = F.lit(1.0) - s["dupf"]
        accuracy = F.lit(1.0) - F.least(
            F.lit(1.0), s["symr"] / F.lit(config.MAX_SYMBOL_RATIO)
        )
        pnum = (
            completeness * weights["completeness"]
            + consistency * weights["consistency"]
            + uniqueness * weights["uniqueness"]
            + accuracy * weights["accuracy"]
        )
        return F.struct(reason.alias("reason"), pnum.alias("pnum"))

    return bind_once(c0, _outer)


def stopword_langid(c: Column) -> Column:
    """SQL-expressible language ID: argmax of per-language stopword
    token hits, alphabetical tie-break, 'und' when all zero. The
    DuckDB twin is built by duckdb_langid_sql().

    The per-language hit counts are computed ONCE into a bound array
    (bind_once): the naive when-chain re-inlined every language's
    split+filter AND the max into every branch — O(n_langs²)
    tokenizations per document. r8: the TOKENIZATION is also bound
    once — the per-language token_set_hits each re-split the text, so
    every document was tokenized n_langs times for one token array
    (sf1.0 paired, expression-level: 0.381 → 0.313 s median); the
    per-language work is now just the membership filter over the
    shared array."""
    langs = sorted(config.STOPWORDS_BY_LANG)
    toks = F.split(F.lower(c), r"\s+", -1)

    def scores_from(ts: Column) -> Column:
        return F.array(*[
            F.size(
                F.filter(
                    ts,
                    lambda x: x.isin(*config.STOPWORDS_BY_LANG[l]),
                )
            ).cast("long")
            for l in langs
        ])

    scores_arr = bind_once(toks, scores_from)

    def pick(s: Column) -> Column:
        mx = F.array_max(s)
        expr = F.when(mx == 0, F.lit("und"))
        for i, l in enumerate(langs):
            expr = expr.when(s.getItem(i) == mx, F.lit(l))
        return expr

    return bind_once(scores_arr, pick)


def duckdb_langid_sql(text_expr: str = "text") -> str:
    """DuckDB-SQL twin of stopword_langid()."""
    langs = sorted(config.STOPWORDS_BY_LANG)

    def hits(l: str) -> str:
        words = ", ".join(f"'{w}'" for w in config.STOPWORDS_BY_LANG[l])
        return (
            f"len(list_filter(string_split_regex(lower({text_expr}), '\\s+'),"
            f" x -> x in ({words})))"
        )

    score_exprs = {l: hits(l) for l in langs}
    mx = "greatest(" + ", ".join(score_exprs.values()) + ")"
    cases = " ".join(
        f"WHEN {score_exprs[l]} = {mx} THEN '{l}'" for l in langs
    )
    return f"CASE WHEN {mx} = 0 THEN 'und' {cases} END"


def nulllike(c: Column) -> Column:
    """The reference's null-like predicate P1 (inference.rs:98-103):
    NULL, empty, whitespace-only, 'null'/'nan' case-insensitive."""
    t = F.trim(c)
    return c.isNull() | (t == "") | F.lower(t).isin("null", "nan")


def hll_distinct(c: Column) -> Column:
    """Estimated distinct count of ``c``: a DataSketches HLL at
    lgK = config.HLL_LG_K, the reference's precision 14
    (cardinality.rs). The value goes in as xxhash64(c), so every type
    is accepted (hll_sketch_agg itself takes only int, bigint, string
    and binary). NULL is masked first: xxhash64(NULL) is the seed 42,
    not NULL, and would count as one more value. Zero rows and an
    all-NULL column estimate 0, as countDistinct does."""
    return F.hll_sketch_estimate(
        F.hll_sketch_agg(F.when(c.isNotNull(), F.xxhash64(c)),
                         config.HLL_LG_K)
    )


def duckdb_signal_sql(text_expr: str = "text") -> dict[str, str]:
    """DuckDB-SQL fragments computing the SAME signals (RE2 dialect),
    for oracle_sql() generation. Keys match the Spark column aliases."""
    stopset = ", ".join(f"'{w}'" for w in config.STOPWORDS_EN)
    return {
        "word_count": f"len(regexp_extract_all({text_expr}, '{WORD_PAT}'))::BIGINT",
        "letter_count": f"length(regexp_replace({text_expr}, '{NON_LETTER_PAT}', '', 'g'))::BIGINT",
        "symbol_count": f"len(regexp_extract_all({text_expr}, '{SYMBOL_PAT}'))::BIGINT",
        "ellipsis_count": f"len(regexp_extract_all({text_expr}, '{ELLIPSIS_PAT}'))::BIGINT",
        "stopword_count": (
            f"len(list_filter(regexp_extract_all(lower({text_expr}), "
            f"'{WORD_PAT}'), x -> x in ({stopset})))::BIGINT"
        ),
        "email_count": f"len(regexp_extract_all({text_expr}, '{EMAIL_PAT}'))::BIGINT",
        "phone_count": f"len(regexp_extract_all({text_expr}, '{PHONE_PAT}'))::BIGINT",
        "ipv4_count": f"len(regexp_extract_all({text_expr}, '{IPV4_PAT}'))::BIGINT",
        "line_count": f"len(string_split({text_expr}, chr(10)))::BIGINT",
        "distinct_line_count": f"len(list_distinct(string_split({text_expr}, chr(10))))::BIGINT",
    }
