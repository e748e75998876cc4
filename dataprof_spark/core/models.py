"""Production model adapters: fastText langid, KenLM perplexity.

The deterministic stand-ins (core.langid, core.perplexity) carry the
exact call signatures of the production models they stand in for.
This module is that swap point made concrete: set
``DATAPROF_FASTTEXT_MODEL`` / ``DATAPROF_KENLM_MODEL`` to a model
file and — when the ``fasttext`` / ``kenlm`` packages are installed —
the SAME batch entry points that the Spark pandas UDFs and the
single-node labeler share dispatch to the real model. Labeler ↔ Spark
parity is preserved for ANY backend by construction, because both
engines call through this module (operators/gates.py UDFs and
core/gates.py labeler).

Fail-loud contract: if a model env var IS set but the package or the
model file is missing, we raise instead of silently degrading to the
stand-in — a configured production run must never quietly ship
stand-in labels. With the env vars unset (this sandbox: neither
package is installed) dispatch is a dict lookup + delegation to the
stand-ins, so the default path is byte-identical to calling them
directly.

Mirrors the reference's pluggable-engine discipline (the reference
selects its execution engine per run; SURVEY.md §2.10). The adapter
and its tests exist now, skipped in this sandbox, and flip on the day
the environment provides the dependency.
"""

from __future__ import annotations

import os
import threading
from typing import Sequence

import numpy as np

_FASTTEXT_ENV = "DATAPROF_FASTTEXT_MODEL"
_KENLM_ENV = "DATAPROF_KENLM_MODEL"

_lock = threading.Lock()
_cache: dict[str, object] = {}


def resolved_config() -> dict:
    """Model configuration read from THIS process's environment.

    Resolve on the Spark DRIVER at plan time and ship the dict inside
    the UDF closure (operators/gates.py does this). Reading os.environ
    inside an executor-side pandas UDF is wrong on any non-local
    master: the driver's env vars don't reach Python workers, so a
    configured fastText/KenLM run would silently label with the
    stand-in on executors while the single-node labeler used the real
    model — exactly the divergence the fail-loud contract forbids
    (ADVICE r6). With the closure-shipped config, a configured-but-
    uninstallable executor raises instead of degrading.
    """
    return {
        "fasttext_path": os.environ.get(_FASTTEXT_ENV) or None,
        "kenlm_path": os.environ.get(_KENLM_ENV) or None,
    }


def _load_fasttext(path: str):
    """Load (once per process) the fastText model at `path`."""
    key = ("fasttext", path)
    with _lock:
        if key not in _cache:
            try:
                import fasttext
            except ImportError as e:  # pragma: no cover - env-dependent
                raise RuntimeError(
                    f"{_FASTTEXT_ENV}={path} is set but the `fasttext` "
                    "package is not installed; refusing to silently fall "
                    "back to the deterministic stand-in"
                ) from e
            if not os.path.exists(path):
                raise RuntimeError(
                    f"{_FASTTEXT_ENV}={path}: model file does not exist"
                )
            _cache[key] = fasttext.load_model(path)
        return _cache[key]


def _load_kenlm(path: str):
    """Load (once per process) the KenLM model (.arpa or binary)."""
    key = ("kenlm", path)
    with _lock:
        if key not in _cache:
            try:
                import kenlm
            except ImportError as e:  # pragma: no cover - env-dependent
                raise RuntimeError(
                    f"{_KENLM_ENV}={path} is set but the `kenlm` package "
                    "is not installed; refusing to silently fall back to "
                    "the deterministic stand-in"
                ) from e
            if not os.path.exists(path):
                raise RuntimeError(
                    f"{_KENLM_ENV}={path}: model file does not exist"
                )
            _cache[key] = kenlm.Model(path)
        return _cache[key]


def predict_batch(
    texts: Sequence[str | None], config: dict | None = None
) -> list[tuple[str, float]]:
    """[(language, score), ...] — fastText when configured, else the
    deterministic stand-in. fastText requires newline-free input, so
    newlines are flattened to spaces (fastText's own preprocessing
    convention); '__label__xx' prefixes are stripped; a document with
    no prediction (empty text) maps to ('und', 0.0), matching the
    stand-in's contract.

    `config`: a resolved_config() dict captured on the driver; when
    None (single-node labeler path, same process) the environment is
    read directly."""
    if config is not None:
        path = config.get("fasttext_path")
    else:
        path = os.environ.get(_FASTTEXT_ENV)
    if not path:
        from dataprof_spark.core import langid

        return langid.predict_batch(texts)
    model = _load_fasttext(path)
    cleaned = [(t or "").replace("\n", " ") for t in texts]
    labels, probs = model.predict(cleaned, k=1)
    out: list[tuple[str, float]] = []
    for lab, pr in zip(labels, probs):
        if lab:
            out.append((lab[0].removeprefix("__label__"), float(pr[0])))
        else:
            out.append(("und", 0.0))
    return out


def predict(text: str | None) -> tuple[str, float]:
    """Scalar twin (labeler entry point) — batch-of-1 delegation, so
    labeler and Spark can never diverge on any backend."""
    return predict_batch([text])[0]


def perplexity_batch(
    texts: Sequence[str | None], config: dict | None = None
) -> np.ndarray:
    """Per-document perplexity — KenLM when configured, else the
    deterministic stand-in. None/empty → 0.0 (stand-in contract).
    `config` as in predict_batch."""
    if config is not None:
        path = config.get("kenlm_path")
    else:
        path = os.environ.get(_KENLM_ENV)
    if not path:
        from dataprof_spark.core import perplexity

        return perplexity.perplexity_batch(texts)
    model = _load_kenlm(path)
    out = np.zeros(len(texts))
    for i, t in enumerate(texts):
        t = (t or "").replace("\n", " ").strip()
        if t:
            out[i] = model.perplexity(t)
    return out


def perplexity(text: str | None) -> float:
    """Scalar twin (labeler entry point)."""
    return float(perplexity_batch([text])[0])
