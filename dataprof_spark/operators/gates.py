"""Document-level quality pipeline operators.

Split by execution tier:
- NATIVE: every countable signal and the heuristic gate cascade are
  pure `pyspark.sql.functions` expressions (functions/exprs.py) —
  whole-stage codegen, no Python.
- VECTORIZED PYTHON (Arrow batches, never per-row): langid,
  perplexity, and the byte-exact PII scrub, fused into ONE pandas UDF
  (make_enrich_udf). These call the SAME pure
  functions as the single-node labeler (core/*), which is what makes
  Spark output vs labeler output byte-identical by construction.

At 100 TB the expensive stage is the pandas UDF projection; it is
embarrassingly parallel (no shuffle at all — scan → project → write),
so throughput scales with executors as long as input partitions are
size-balanced; pipeline/run.py handles repartitioning and skew.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from dataprof_spark import config
from dataprof_spark.core.scrub import SCRUB_ORDER
from dataprof_spark.functions import exprs


# --------------------------------------------------------------- native
def with_signals(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Append all native signal columns (one codegen'd projection)."""
    c = F.col(text_col)
    return df.withColumns(
        {
            "word_count": exprs.word_count(c),
            "mean_word_length": exprs.mean_word_length(c),
            "symbol_ratio": exprs.symbol_ratio(c),
            "ellipsis_count": exprs.ellipsis_count(c),
            "stopword_count": exprs.stopword_count(c),
            "dup_line_fraction": exprs.dup_line_fraction(c),
            "mojibake_count": exprs.mojibake_count(c),
        }
    )


def heuristic_reason_col(
    text_col: str = "text", lang_col: str | None = "lang"
) -> Column:
    """Native first-failing-gate drop reason (NULL = pass)."""
    english = (
        F.col(lang_col) == "en" if lang_col is not None else F.lit(True)
    )
    return exprs.heuristic_reason(F.col(text_col), english=english)


# ------------------------------------------------- vectorized pandas UDF
#
# make_enrich_udf is a FACTORY: the fastText/KenLM config is
# resolved from the environment on the DRIVER at plan time and shipped
# to executors inside the UDF closure. An executor-side os.environ read
# would silently use the stand-in on any non-local master (driver env
# vars don't reach Python workers) while the single-node labeler used
# the configured model — the exact divergence the fail-loud contract
# forbids (ADVICE r6).


_ENRICH_SCHEMA = T.StructType(
    [
        T.StructField("pred_lang", T.StringType()),
        T.StructField("ppl", T.DoubleType()),
        T.StructField("scrubbed_text", T.StringType()),
        *(T.StructField(k, T.IntegerType()) for k in SCRUB_ORDER),
    ]
)


def make_enrich_udf(model_config: dict | None = None):
    """Factory for the fused enrich UDF; model config resolved on the
    driver at plan time (see the comment above) and captured
    in the closure, so executors use exactly what the driver planned
    — or raise, never silently degrade."""
    from dataprof_spark.core import models as _models

    cfg = _models.resolved_config() if model_config is None else model_config

    @pandas_udf(_ENRICH_SCHEMA)
    def enrich_udf(texts: pd.Series) -> pd.DataFrame:
        return _enrich_batch(texts, cfg)

    return enrich_udf


def _enrich_batch(texts: pd.Series, cfg: dict | None) -> pd.DataFrame:
    """ALL Python per-document work fused into ONE Arrow pass: langid
    + perplexity + byte-exact scrub. Three separate pandas UDFs would
    each become their own ArrowEvalPython node — 3× Arrow transfer of
    the text column and 3 Python round trips per batch; fused it is
    one. Batch-vectorized end to end (r5): langid scores unique
    tokens once per batch and segment-sums with numpy, perplexity is
    a codepoint-LUT numpy pass, the scrub is one C regex scan per
    category — no per-document Python inner loop remains. The SAME
    core batch kernels back the single-node labeler's scalar calls
    (scalars delegate to batch-of-1, and reduceat segment sums are
    bit-identical in any batch layout), so Spark output vs labeler
    output stays byte-identical by construction. langid/perplexity
    dispatch through core.models — the production swap point: real
    fastText/KenLM when DATAPROF_FASTTEXT_MODEL/DATAPROF_KENLM_MODEL
    are configured, the deterministic stand-ins otherwise; the
    labeler (core/gates.py) dispatches through the same module, so
    parity holds for ANY backend."""
    from dataprof_spark.core import models, scrub

    vals = texts.tolist()
    preds = models.predict_batch(vals, config=cfg)
    ppl = models.perplexity_batch(vals, config=cfg)
    scrubbed, counts = scrub.scrub_batch(texts)
    return pd.DataFrame(
        {
            "pred_lang": pd.Series([p[0] for p in preds], dtype=object),
            "ppl": ppl,
            "scrubbed_text": scrubbed.reset_index(drop=True),
            **{k: counts[k].astype("int32") for k in SCRUB_ORDER},
        }
    )


# ------------------------------------------------------------- pipeline
def decide(
    df: DataFrame,
    text_col: str = "text",
    lang_col: str = "lang",
    url_col: str = "url",
    ts_col: str | None = "warc_ts",
    now_year: int = 2026,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Full decisions DataFrame (FIXTURES.md A2 schema).

    Gate cascade = native heuristics, then langid agreement, then
    perplexity ceiling — identical order and thresholds to the labeler
    (core/gates.py). Quality score = renormalized weighted dimension
    mean (reference quality.rs:395-411 recast per-document). The three
    Python stages (langid, perplexity, scrub) run once per document as
    Arrow-batched projections; everything else is codegen'd.
    """
    c = F.col(text_col)
    # Model config resolved HERE (driver, plan time) and shipped in the
    # UDF closure — see the factory comment above make_enrich_udf.
    enrich = make_enrich_udf()
    # r8: ONE fused native pass computes the gate cascade AND the
    # text-derived quality-score terms (exprs.heuristic_reason_and_pnum
    # — separate gate and score trees ran the word/mojibake/symbol/line
    # signal passes twice per document; Catalyst has no CSE across
    # expression trees). Validity and timeliness are attached below
    # from the UDF output / ts column, in the labeler's term order
    # (core.gates.quality_score).
    english = (
        F.col(lang_col) == "en" if lang_col is not None else F.lit(True)
    )
    fused = exprs.heuristic_reason_and_pnum(
        c, english=english, weights=config.QUALITY_WEIGHTS
    )
    sig = df.withColumns(
        {
            "_hs": fused,
            "_py": enrich(c),  # ONE fused Arrow/Python pass
        }
    )
    reason = (
        F.when(F.col("_hs.reason").isNotNull(), F.col("_hs.reason"))
        # null-safe: a NULL claimed lang never equals a prediction,
        # as in the labeler (core.gates.full_reason)
        .when(
            ~F.col("_py.pred_lang").eqNullSafe(F.col(lang_col)),
            F.lit("lang_mismatch"),
        )
        .when(
            F.col("_py.ppl") > config.MAX_PERPLEXITY,
            F.lit("high_perplexity"),
        )
        .otherwise(F.lit(None).cast("string"))
    )
    # score = (pnum + validity·w [+ timeliness·w]) / den — the
    # labeler's left-associated sum, with the four text dimensions
    # pre-folded into _hs.pnum by the fused pass.
    w = config.QUALITY_WEIGHTS
    validity = F.when(
        F.col("_py.pred_lang") == F.col(lang_col), 1.0
    ).otherwise(0.0)
    num = F.col("_hs.pnum") + validity * w["validity"]
    den = F.lit(
        w["completeness"] + w["consistency"] + w["uniqueness"]
        + w["accuracy"] + w["validity"]
    )
    if ts_col is not None:
        ts = F.col(ts_col)
        year = F.year(ts)
        timeliness = (
            F.when(year > now_year, 0.0)
            .when(year < now_year - config.STALE_YEARS, 0.5)
            .otherwise(1.0)
        )
        # NULL timestamp = dimension unassessed: excluded from BOTH
        # numerator and denominator (renormalized), matching the
        # labeler's warc_ts-is-None path — vacuous dimensions are
        # never counted as perfect (quality.rs:395-411 discipline).
        w_t = F.when(ts.isNull(), F.lit(0.0)).otherwise(
            F.lit(float(w["timeliness"]))
        )
        num = num + F.coalesce(timeliness, F.lit(1.0)) * w_t
        den = den + w_t
    out = sig.withColumns(
        {
            "drop_reason": reason,
            "quality_score": num / den,
        }
    )
    return out.select(
        *keep_cols,
        F.col(url_col).alias("url"),
        F.col("drop_reason").isNull().alias("keep"),
        "drop_reason",
        F.col("_py.scrubbed_text").alias("scrubbed_text"),
        F.create_map(
            *(x for k in SCRUB_ORDER for x in (F.lit(k), F.col(f"_py.{k}")))
        ).alias("scrub_counts"),
        "quality_score",
    )

