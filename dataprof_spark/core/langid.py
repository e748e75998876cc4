"""Deterministic n-gram language identification (fastText stand-in).

The sandbox has no fastText; this is a dependency-free, fully
deterministic scorer with the same call signature a fastText wrapper
would have (``predict(text) -> (lang, score)``), so the model can be
swapped in production without touching the pipeline.

Model: per-language character-trigram profiles derived from the
stopword lexicons in config.STOPWORDS_BY_LANG, plus whole-token
stopword hits (weighted higher). Score(lang) =
``2*token_hits + trigram_hits``; predicted language = argmax with
alphabetical tie-break; 'und' when every score is 0.

Both the labeler and the Spark pandas UDF call :func:`predict` —
identical predictions by construction.
"""

from __future__ import annotations

import re
from functools import lru_cache

from dataprof_spark import config

_TOKEN_RE = re.compile(r"[a-zà-ÿ]+")


def _trigrams(word: str) -> set[str]:
    padded = f" {word} "
    return {padded[i : i + 3] for i in range(len(padded) - 2)}


def _build_profiles() -> dict[str, tuple[frozenset, frozenset]]:
    profiles = {}
    for lang, words in config.STOPWORDS_BY_LANG.items():
        tris: set[str] = set()
        for w in words:
            tris |= _trigrams(w)
        profiles[lang] = (frozenset(words), frozenset(tris))
    return profiles


_PROFILES = _build_profiles()
_LANGS = tuple(_PROFILES)


# Memoized per-token scoring: natural-language token frequency is
# Zipfian, so the cache hit rate is high on real corpora; results are
# identical with or without the cache (pure function).
@lru_cache(maxsize=1 << 16)
def _token_scores(tok: str) -> tuple[float, ...]:
    tok_tris = _trigrams(tok)
    denom = max(len(tok_tris), 1)
    return tuple(
        (2.0 if tok in words else 0.0) + len(tok_tris & tris) / denom
        for words, tris in (_PROFILES[l] for l in _LANGS)
    )


# columns of the batch score matrix, alphabetical — np.argmax then
# returns the alphabetically-smallest maximal language, matching the
# scalar tie-break `max(sorted(scores), key=scores.get)`
_LANGS_SORTED = tuple(sorted(_LANGS))

import numpy as _np  # noqa: E402


def scores_batch(texts) -> "_np.ndarray":
    """(n_docs, n_langs) score matrix in _LANGS_SORTED column order —
    THE scoring implementation (scalar wrappers delegate here).

    Vectorized over the batch: all documents' tokens are flattened,
    factorized to unique tokens (web text is Zipfian, so uniques are a
    small fraction of occurrences), each UNIQUE token scored once via
    the memoized per-token scorer, then per-document totals come from
    one ``np.add.reduceat`` over the occurrence rows. reduceat's
    blocking depends only on segment length, so a document's scores
    are bit-identical in any batch layout (the property the labeler
    ↔ Spark parity gate relies on)."""
    import pandas as _pd

    toks_per_doc = [
        _TOKEN_RE.findall((t or "").lower()) for t in texts
    ]
    n = len(texts)
    out = _np.zeros((n, len(_LANGS_SORTED)))
    flat: list[str] = []
    for toks in toks_per_doc:
        flat.extend(toks)
    if not flat:
        return out
    codes, uniques = _pd.factorize(_np.asarray(flat, dtype=object))
    col = [_LANGS.index(l) for l in _LANGS_SORTED]
    mat = _np.empty((len(uniques), len(_LANGS_SORTED)))
    for j, tok in enumerate(uniques):
        ts = _token_scores(tok)
        mat[j] = [ts[i] for i in col]
    occ = mat[codes]
    lens = _np.fromiter(
        (len(t) for t in toks_per_doc), dtype=_np.int64, count=n
    )
    nonempty = _np.flatnonzero(lens)
    starts = _np.zeros(len(nonempty), dtype=_np.int64)
    _np.cumsum(lens[nonempty][:-1], out=starts[1:])
    out[nonempty] = _np.add.reduceat(occ, starts, axis=0)
    return out


def predict_batch(texts) -> list[tuple[str, float]]:
    """Batch twin of predict(): [(language, score), ...]."""
    sc = scores_batch(texts)
    best = _np.argmax(sc, axis=1)
    vals = sc[_np.arange(len(texts)), best]
    return [
        ("und", 0.0) if v <= 0.0 else (_LANGS_SORTED[b], float(v))
        for b, v in zip(best, vals)
    ]


def score(text: str) -> dict[str, float]:
    """Per-language scores for one document."""
    row = scores_batch([text])[0]
    return {l: float(v) for l, v in zip(_LANGS_SORTED, row)}


def predict(text: str) -> tuple[str, float]:
    """(language, score); 'und' if nothing matched at all. Delegates
    to the batch kernel — labeler and Spark UDF can never diverge."""
    return predict_batch([text])[0]
