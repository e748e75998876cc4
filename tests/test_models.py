"""core.models — the production-model swap point (fastText/KenLM).

Three contracts:
1. Default dispatch (no env vars) is byte-identical to the
   deterministic stand-ins — the sandbox/bench path is unchanged.
2. Fail-loud: a configured model that cannot be loaded (package or
   file missing) raises instead of silently shipping stand-in labels.
3. Real-backend tests are skipif-gated on the optional packages:
   they skip in this sandbox and flip on the day the environment
   provides fasttext/kenlm — no code change needed then.
"""

from __future__ import annotations

import importlib.util

import numpy as np
import pytest

from dataprof_spark.core import langid, models, perplexity

_HAS_FASTTEXT = importlib.util.find_spec("fasttext") is not None
_HAS_KENLM = importlib.util.find_spec("kenlm") is not None

TEXTS = [
    "the quick brown fox jumps over the lazy dog and that is that",
    "le renard brun rapide saute par dessus le chien paresseux",
    "",
    None,
    "zzzz qqqq xxxx 0x7f3a ~~~ ###",
]


def test_default_dispatch_is_the_standin(monkeypatch):
    monkeypatch.delenv("DATAPROF_FASTTEXT_MODEL", raising=False)
    monkeypatch.delenv("DATAPROF_KENLM_MODEL", raising=False)
    assert models.predict_batch(TEXTS) == langid.predict_batch(TEXTS)
    np.testing.assert_array_equal(
        models.perplexity_batch(TEXTS), perplexity.perplexity_batch(TEXTS)
    )
    # scalar twins delegate to batch-of-1
    assert models.predict(TEXTS[0]) == langid.predict(TEXTS[0])
    assert models.perplexity(TEXTS[0]) == perplexity.perplexity(TEXTS[0])


def test_configured_but_unloadable_fails_loud(monkeypatch, tmp_path):
    # Whether the package is installed or not, a model path that
    # cannot be served must raise — never silently fall back.
    monkeypatch.setenv(
        "DATAPROF_FASTTEXT_MODEL", str(tmp_path / "missing.bin")
    )
    with pytest.raises(RuntimeError):
        models.predict_batch(["hello"])
    monkeypatch.delenv("DATAPROF_FASTTEXT_MODEL")
    monkeypatch.setenv(
        "DATAPROF_KENLM_MODEL", str(tmp_path / "missing.arpa")
    )
    with pytest.raises(RuntimeError):
        models.perplexity_batch(["hello"])


def test_labeler_dispatches_through_models(monkeypatch):
    """core/gates.py must consult the swap point, not the stand-in
    directly — otherwise a configured backend would split the labeler
    from the Spark UDFs and break F1 parity."""
    from dataprof_spark.core import gates as core_gates

    calls = {"n": 0}
    real = models.predict_batch

    def spy(texts):
        calls["n"] += 1
        return real(texts)

    monkeypatch.setattr(models, "predict_batch", spy)
    row = core_gates.decide("http://x", TEXTS[0], "en", None)
    assert calls["n"] >= 1
    assert row["keep"] in (True, False)


# ------------------------------------------------------------------
# Real backends — skipped in this sandbox, live wherever the optional
# packages exist. No model download: fastText trains a toy supervised
# model in-test; KenLM loads a handwritten unigram ARPA file.
# ------------------------------------------------------------------
@pytest.mark.skipif(not _HAS_FASTTEXT,
                    reason="fasttext not installed (sandbox)")
def test_real_fasttext_roundtrip(monkeypatch, tmp_path):
    import fasttext

    train = tmp_path / "train.txt"
    rows = []
    for _ in range(50):
        rows.append("__label__en the cat sat on the mat and was happy")
        rows.append("__label__fr le chat est assis sur le tapis heureux")
    train.write_text("\n".join(rows))
    model = fasttext.train_supervised(
        input=str(train), epoch=10, minCount=1, seed=42, thread=1
    )
    path = tmp_path / "toy.bin"
    model.save_model(str(path))
    monkeypatch.setenv("DATAPROF_FASTTEXT_MODEL", str(path))
    preds = models.predict_batch(
        ["the cat sat on the mat",
         "le chat est assis sur le tapis",
         "",  # no prediction -> ('und', 0.0) contract
         "line\nwith\nnewlines the cat sat"]
    )
    assert preds[0][0] == "en"
    assert preds[1][0] == "fr"
    assert all(0.0 <= p[1] <= 1.0001 for p in preds)
    # scalar twin agrees with batch
    assert models.predict("the cat sat on the mat") == preds[0]


_TOY_ARPA = """\\data\\
ngram 1=5

\\1-grams:
-1.5\t<unk>
-1.0\t<s>
-1.0\t</s>
-0.5\thello
-0.7\tworld

\\end\\
"""


@pytest.mark.skipif(not _HAS_KENLM, reason="kenlm not installed (sandbox)")
def test_real_kenlm_roundtrip(monkeypatch, tmp_path):
    path = tmp_path / "toy.arpa"
    path.write_text(_TOY_ARPA)
    monkeypatch.setenv("DATAPROF_KENLM_MODEL", str(path))
    out = models.perplexity_batch(["hello world", "hello", "", None])
    assert out[0] > 0.0 and out[1] > 0.0
    assert out[2] == 0.0 and out[3] == 0.0
    # in-vocab text must beat all-OOV text
    oov = models.perplexity_batch(["zzz qqq xxx"])[0]
    assert out[0] < oov
    assert models.perplexity("hello world") == pytest.approx(out[0])


# ------------------------------------------------------------------
# Closure-shipped model config (ADVICE r6): the Spark UDFs must carry
# the DRIVER-resolved config in their closure, never re-read
# os.environ on the executor — on a non-local master the driver's env
# vars don't reach Python workers, so an env read there silently
# degrades to the stand-in while the single-node labeler uses the
# real model.
# ------------------------------------------------------------------
def test_resolved_config_reads_driver_env(monkeypatch):
    monkeypatch.setenv("DATAPROF_FASTTEXT_MODEL", "/d/ft.bin")
    monkeypatch.setenv("DATAPROF_KENLM_MODEL", "/d/lm.arpa")
    assert models.resolved_config() == {
        "fasttext_path": "/d/ft.bin",
        "kenlm_path": "/d/lm.arpa",
    }
    monkeypatch.delenv("DATAPROF_FASTTEXT_MODEL")
    monkeypatch.delenv("DATAPROF_KENLM_MODEL")
    assert models.resolved_config() == {
        "fasttext_path": None,
        "kenlm_path": None,
    }


def test_udf_closure_ships_config_not_env(monkeypatch, spark):
    """Build the fused UDF while a (bogus) model is configured, then
    DROP the env var before executing. If the UDF re-read the
    executor environment it would silently fall back to the stand-in
    and succeed; the closure-shipped config must instead fail loud
    with the unloadable configured path."""
    from pyspark.errors.exceptions.captured import PythonException

    from dataprof_spark.operators import gates

    monkeypatch.setenv("DATAPROF_FASTTEXT_MODEL", "/nonexistent/ft.bin")
    enrich = gates.make_enrich_udf()  # plan time: config captured
    monkeypatch.delenv("DATAPROF_FASTTEXT_MODEL")  # env gone at exec
    df = spark.createDataFrame([("hello world",)], ["text"])
    with pytest.raises(PythonException, match="fasttext"):
        df.select(enrich("text").alias("e")).collect()


def test_udf_closure_standin_when_unconfigured(monkeypatch, spark):
    """Unconfigured driver -> stand-in labels, identical to the
    single-node kernels, regardless of executor-side env churn."""
    monkeypatch.delenv("DATAPROF_FASTTEXT_MODEL", raising=False)
    monkeypatch.delenv("DATAPROF_KENLM_MODEL", raising=False)
    from dataprof_spark.operators import gates

    enrich = gates.make_enrich_udf()
    df = spark.createDataFrame([(t,) for t in TEXTS if t], ["text"])
    rows = df.select("text", enrich("text").alias("e")).collect()
    for r in rows:
        lang, score = langid.predict(r["text"])
        assert r["e"]["pred_lang"] == lang
        assert r["e"]["ppl"] == pytest.approx(
            float(perplexity.perplexity_batch([r["text"]])[0])
        )
