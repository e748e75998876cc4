"""Dataset-level quality dimensions — the reference's QualityMetrics
(/root/reference/crates/dataprof-metrics/src/quality.rs:135-161,
dimension calculators completeness.rs / uniqueness.rs / consistency.rs
/ accuracy.rs / timeliness.rs) as Spark aggregations.

Everything is computed EXACT in one or two scans (Spark makes the
reference's Phase-A/Phase-B sampled bifurcation unnecessary —
metrics/mod.rs:463-741); we keep the provenance *fields* with value
"exact" so report consumers see the same contract.

Weighted overall score: renormalized weighted mean over assessed
dimensions only — vacuous dimensions are excluded, never counted as
perfect (quality.rs:395-411; weights config.rs:24-36).
"""

from __future__ import annotations

import datetime as _dt
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dataprof_spark import config
from dataprof_spark.functions import dates, exprs
from dataprof_spark.operators.profiler import (
    _is_numeric,
    _is_temporal,
    check_cardinality,
)

MOJIBAKE_PAT = exprs.MOJIBAKE_PAT

# name-keyed domain rules (accuracy.rs:33-226)
_DOMAIN_RULES = (
    ("age", 0.0, 150.0),
    ("percent", 0.0, 100.0),
    ("rate", 0.0, 100.0),
    ("year", 1900.0, 2100.0),
)
_POSITIVE_HINTS = ("count", "quantity", "qty", "amount", "price", "size")


@dataclass
class QualityReport:
    dimensions: dict[str, float] = field(default_factory=dict)
    details: dict[str, dict] = field(default_factory=dict)
    confidence: str = "exact"
    # provenance of the uniqueness distinct counts — same vocabulary
    # as the profiler's per-column flag: exact | hll | not_computed
    distinct_confidence: str = "exact"

    @property
    def overall_score(self) -> float:
        assessed = {
            d: v for d, v in self.dimensions.items() if v is not None
        }
        if not assessed:
            return 0.0
        num = sum(config.QUALITY_WEIGHTS[d] * v for d, v in assessed.items())
        den = sum(config.QUALITY_WEIGHTS[d] for d in assessed)
        return num / den


_ALL_DIMENSIONS = (
    "completeness", "consistency", "uniqueness", "accuracy",
    "timeliness", "validity", "precision",
)


def assess(df: DataFrame, key_col: str | None = None,
           now: _dt.datetime | None = None,
           with_validity: bool = False,
           use_approx_percentiles: bool = False,
           use_approx_distinct: bool = False,
           positive_columns: list[str] | None = None,
           dimensions: list[str] | None = None,
           cardinality: str = "parity") -> QualityReport:
    """Compute ALL assessable dimensions (the reference's full
    7-dimension contract, quality.rs:135-161 + 340-411): completeness,
    consistency (type conformance + mixed date formats + mixed decimal
    separators + encoding issues — consistency.rs:26-210), uniqueness,
    accuracy, validity (dominant semantic pattern share,
    validity.rs:20-71, opt-in: needs a per-column sample scan),
    timeliness, precision (modal decimal scale, precision.rs:21-88).

    Scans: one wide agg + one fence agg + one melt agg for precision —
    constant in column count. ``use_approx_percentiles=True`` switches
    the IQR fences to approx_percentile (needed at 10^11 rows; exact
    percentile buffers per group); ``use_approx_distinct=True``
    switches the row/key distinct counts to the precision-14 HLL
    sketch, exprs.hll_distinct (exact countDistinct expands every row
    into the shuffle at 10^11 rows). Either flag records
    confidence="approx" — the reference's own exact-vs-approx
    provenance contract.

    ``cardinality`` is the profiler's tier knob, threaded through the
    quality path:
    - "parity" (default): exact countDistinct, or the HLL sketch when
      ``use_approx_distinct=True``.
    - "off": no distinct aggregates at all; the uniqueness dimension
      reports None (renormalized out of the overall score, never
      counted perfect) and the key-uniqueness evidence is absent.
    The tier used is recorded as ``report.distinct_confidence``
    (exact | hll | not_computed) and mirrored in
    ``details['uniqueness']`` — the same provenance the profiler
    emits.
    """
    check_cardinality(cardinality)
    if dimensions is None:
        want = set(_ALL_DIMENSIONS)
    else:
        want = {d.lower() for d in dimensions}
        unknown = want - set(_ALL_DIMENSIONS)
        if unknown:
            # mirror the reference's FromStr refusal (quality.rs:29-43)
            raise ValueError(
                f"Unknown quality dimension(s): {sorted(unknown)}. "
                f"Valid: {list(_ALL_DIMENSIONS)}"
            )
        if "validity" in want:
            # naming a dimension explicitly IS the opt-in
            with_validity = True
    now = now or _dt.datetime(2026, 1, 1)
    fields_ = df.schema.fields
    str_cols = [f.name for f in fields_ if isinstance(f.dataType, T.StringType)]
    num_cols = [f.name for f in fields_ if _is_numeric(f.dataType)]
    ts_cols = [f.name for f in fields_ if _is_temporal(f.dataType)]

    aggs = [F.count(F.lit(1)).alias("__total")]
    pct_aggs: list = []  # TypedImperative percentiles — separate job
    # completeness: per-cell nulls + complete records (the null counts
    # also feed consistency's values_checked denominator, so either
    # dimension pulls them in; an unrequested dimension contributes
    # ZERO aggregate expressions — the metrics(packs) contract)
    if want & {"completeness", "consistency"}:
        null_preds = []
        for f_ in fields_:
            c = F.col(f_.name)
            p = exprs.nulllike(c) if isinstance(f_.dataType, T.StringType) else c.isNull()
            null_preds.append(p)
            aggs.append(F.sum(p.cast("long")).alias(f"{f_.name}__nulls"))
    if "completeness" in want:
        complete_row = None
        for p in null_preds:
            notp = ~p
            complete_row = notp if complete_row is None else (complete_row & notp)
        aggs.append(F.sum(complete_row.cast("long")).alias("__complete_rows"))
    # uniqueness: row duplicates via 64-bit hash of all columns (A11;
    # xxhash64 not 32-bit hash() — at 10^7+ rows 32-bit birthday
    # collisions would inflate the duplicate count)
    # HLL is a TypedImperative aggregate: when the approx tier is on,
    # its aggs ride the SEPARATE imperative job (pct_aggs) so they
    # don't knock the whole declarative agg off the codegen fast path
    # (profiler.py r3 note); exact countDistinct is declarative and
    # stays in the main agg.
    if use_approx_distinct:
        _distinct = exprs.hll_distinct
        _distinct_sink = pct_aggs
        distinct_conf = "hll"
    else:
        _distinct = F.countDistinct
        _distinct_sink = aggs
        distinct_conf = "exact"
    if cardinality == "off":
        distinct_conf = "not_computed"
    if "uniqueness" in want and cardinality != "off":
        _distinct_sink.append(
            _distinct(
                F.xxhash64(*[F.col(f_.name) for f_ in fields_])
            ).alias("__distinct_rows")
        )
        if key_col:
            _distinct_sink.append(
                _distinct(F.col(key_col)).alias("__key_distinct")
            )
            aggs.append(
                F.sum(F.col(key_col).isNotNull().cast("long"))
                .alias("__key_nn")
            )
    # consistency sub-metrics across string columns (A20,
    # consistency.rs:26-210): encoding issues (mojibake values),
    # type conformance for date-named columns, mixed date formats,
    # mixed decimal separators. The reference samples 50 values for
    # the mixed-format check; Spark computes it exact over the full
    # column in the same single pass — a strictly stronger answer.
    for n in (str_cols if "consistency" in want else []):
        c = F.col(n)
        nn = ~exprs.nulllike(c)
        tv = F.trim(c)
        aggs.append(F.sum(c.rlike(MOJIBAKE_PAT).cast("long")).alias(f"{n}__moji"))
        aggs.append(F.sum(nn.cast("long")).alias(f"{n}__str_nn"))
        if dates.is_likely_date_column(n):
            aggs.append(
                F.sum((nn & ~dates.is_valid_date_shape(tv)).cast("long"))
                .alias(f"{n}__nonconform")
            )
            for cls_name, pat in dates.DATE_FORMAT_CLASSES:
                aggs.append(
                    F.sum((nn & (dates.date_format_class(tv) == cls_name))
                          .cast("long")).alias(f"{n}__fmt_{cls_name}")
                )
        # decimal-separator usage (count_other_format_violations)
        has_dot, has_com = tv.contains("."), tv.contains(",")
        one_dot = F.length(tv) - F.length(F.replace(tv, F.lit("."), F.lit(""))) == 1
        one_com = F.length(tv) - F.length(F.replace(tv, F.lit(","), F.lit(""))) == 1
        aggs.append(
            F.sum((nn & has_dot & has_com).cast("long")).alias(f"{n}__sep_mixed")
        )
        aggs.append(
            F.sum((nn & has_dot & ~has_com & one_dot).cast("long"))
            .alias(f"{n}__sep_dot")
        )
        aggs.append(
            F.sum((nn & ~has_dot & has_com & one_com).cast("long"))
            .alias(f"{n}__sep_com")
        )
    # accuracy: domain rules + negatives in positive-named cols (A21)
    for n in (num_cols if "accuracy" in want else []):
        c = F.col(n).cast("double")
        for hint, lo, hi in _DOMAIN_RULES:
            if hint in n.lower():
                aggs.append(
                    F.sum(((c < lo) | (c > hi)).cast("long")).alias(
                        f"{n}__domain_viol"
                    )
                )
                break
        if (
            any(h in n.lower() for h in _POSITIVE_HINTS)
            or n in (positive_columns or ())
        ):
            aggs.append(
                F.sum((c < 0).cast("long")).alias(f"{n}__neg")
            )
        # quartiles for IQR outliers: exact percentile (Type-7) by
        # default; approx_percentile at scale (exact buffers all
        # values per group — unusable at 10^11 rows). Percentiles are
        # TypedImperative aggregates: they run in their OWN agg job —
        # mixing them into the declarative wide agg forces the whole
        # thing off the codegen fast path (profiler.py r3 note; 4.5x
        # measured on a 6M-row table)
        if use_approx_percentiles:
            pct_aggs.append(
                F.expr(
                    f"approx_percentile({n}, array(0.25, 0.75), 10000)"
                ).alias(f"{n}__quarts")
            )
        else:
            pct_aggs.append(
                F.expr(f"percentile({n}, array(0.25, 0.75))").alias(
                    f"{n}__quarts"
                )
            )
        aggs.append(F.count(c).alias(f"{n}__n"))
    # timeliness (A22)
    for n in (ts_cols if "timeliness" in want else []):
        y = F.year(F.col(n))
        aggs.append(F.sum((y > now.year).cast("long")).alias(f"{n}__future"))
        aggs.append(
            F.sum((y < now.year - config.STALE_YEARS).cast("long")).alias(
                f"{n}__stale"
            )
        )
        aggs.append(F.count(F.col(n)).alias(f"{n}__ts_n"))

    row = df.agg(*aggs).collect()[0].asDict()
    if pct_aggs:
        row.update(df.agg(*pct_aggs).collect()[0].asDict())
    total = row["__total"]
    report = QualityReport()
    if total == 0:
        return report

    # ---- completeness
    n_cells = total * len(fields_)
    total_nulls = (
        sum(row[f"{f_.name}__nulls"] for f_ in fields_)
        if want & {"completeness", "consistency"} else 0
    )
    if "completeness" in want:
        null_columns = [
            f_.name
            for f_ in fields_
            if row[f"{f_.name}__nulls"] / total * 100
            > config.MAX_NULL_PERCENTAGE
        ]
        report.dimensions["completeness"] = 1.0 - total_nulls / n_cells
        report.details["completeness"] = {
            "missing_values_ratio": total_nulls / n_cells,
            "complete_records_ratio": row["__complete_rows"] / total,
            "null_columns": null_columns,
        }

    # ---- uniqueness
    if "uniqueness" not in want:
        dup_rows = None  # section skipped
    elif cardinality == "off":
        dup_rows = None
        # requested but not computed: report the dimension as None
        # (renormalized out of the score) with honest provenance —
        # silence would read as "unassessed", not "opted out"
        report.dimensions["uniqueness"] = None
        report.details["uniqueness"] = {
            "distinct_confidence": "not_computed"
        }
    else:
        dup_rows = total - row["__distinct_rows"]
        if distinct_conf != "exact":
            # HLL can overestimate, so the estimated duplicate count
            # is floored at 0 — a negative duplicate count / >1.0
            # uniqueness is an estimator artifact, not a data
            # property. Exact tier untouched (byte-identical oracle
            # path).
            dup_rows = max(0, dup_rows)
    if dup_rows is None:
        det = None
        uni = None
    else:
        uni = 1.0 - dup_rows / total
        det = {"duplicate_rows": dup_rows,
               "distinct_confidence": distinct_conf}
    if dup_rows is not None and key_col:
        kn = row["__key_nn"]
        det["key_uniqueness"] = (
            row["__key_distinct"] / kn if kn else None
        )
        if distinct_conf != "exact" and det["key_uniqueness"] is not None:
            # same HLL-overestimate cap as duplicate_rows above
            det["key_uniqueness"] = min(1.0, det["key_uniqueness"])
        det["key_nulls"] = total - kn
        if kn and det["key_uniqueness"] is not None:
            uni = min(uni, det["key_uniqueness"])
    if dup_rows is not None:
        report.dimensions["uniqueness"] = uni
        report.details["uniqueness"] = det

    # ---- consistency (consistency.rs score contract,
    # quality.rs:246-253: type conformance − violation ratio)
    values_checked = n_cells - total_nulls
    if "consistency" in want and values_checked > 0:
        moji_total = sum(row[f"{n}__moji"] for n in str_cols)
        nonconform = sum(
            row.get(f"{n}__nonconform", 0) or 0 for n in str_cols
        )
        fmt_viol = 0
        for n in str_cols:
            if not dates.is_likely_date_column(n):
                continue
            counts = [
                row.get(f"{n}__fmt_{cls}", 0) or 0
                for cls, _ in dates.DATE_FORMAT_CLASSES
            ]
            present = [v for v in counts if v > 0]
            if len(present) > 1:
                fmt_viol += sum(present) - max(present)
        sep_viol = 0
        for n in str_cols:
            sep_viol += row.get(f"{n}__sep_mixed", 0) or 0
            dot = row.get(f"{n}__sep_dot", 0) or 0
            com = row.get(f"{n}__sep_com", 0) or 0
            if dot > 0 and com > 0:
                sep_viol += min(dot, com)
        conformance = 1.0 - nonconform / values_checked
        violations = fmt_viol + sep_viol
        score = conformance - (violations + moji_total) / values_checked
        report.dimensions["consistency"] = min(1.0, max(0.0, score))
        report.details["consistency"] = {
            "data_type_consistency": conformance,
            "format_violations": violations,
            "mixed_date_format_violations": fmt_viol,
            "decimal_separator_violations": sep_viol,
            "encoding_issues": moji_total,
            "values_checked": values_checked,
        }

    # ---- accuracy: outlier ratio pooled + rule violations
    if "accuracy" in want and num_cols:
        outliers = 0
        pooled_n = 0
        fence_preds = []
        for n in num_cols:
            q = row[f"{n}__quarts"]
            cnt = row[f"{n}__n"]
            if not q or cnt < config.OUTLIER_MIN_SAMPLES:
                continue
            q1, q3 = q
            iqr = q3 - q1
            lo, hi = q1 - config.OUTLIER_IQR_K * iqr, q3 + config.OUTLIER_IQR_K * iqr
            fence_preds.append((n, lo, hi))
            pooled_n += cnt
        if fence_preds:
            out_aggs = [
                F.sum(
                    (
                        (F.col(n).cast("double") < lo)
                        | (F.col(n).cast("double") > hi)
                    ).cast("long")
                ).alias(n)
                for n, lo, hi in fence_preds
            ]
            orow = df.agg(*out_aggs).collect()[0]
            outliers = sum(orow[n] or 0 for n, _, _ in fence_preds)
        viol = sum(
            row.get(f"{n}__domain_viol", 0) or 0 for n in num_cols
        ) + sum(row.get(f"{n}__neg", 0) or 0 for n in num_cols)
        score = 1.0
        if pooled_n:
            score -= outliers / pooled_n
        if total:
            score -= min(1.0, viol / total)
        report.dimensions["accuracy"] = max(0.0, score)
        report.details["accuracy"] = {
            "outlier_count": outliers,
            "pooled_n": pooled_n,
            "rule_violations": viol,
            "negatives_by_column": {
                n: row[f"{n}__neg"]
                for n in num_cols
                if row.get(f"{n}__neg")
            },
            # which columns actually carried a __neg agg — a requested
            # positive_column that is NOT here (e.g. string-typed) was
            # never checked, so its absence from negatives_by_column
            # does not mean "no negatives"
            "negatives_checked_columns": [
                n for n in num_cols if f"{n}__neg" in row
            ],
        }

    # ---- precision: modal effective decimal scale per float column
    # (precision.rs:21-88). ONE melt job for ALL float columns — never
    # a per-column job loop: explode (col, scale) pairs → one groupBy.
    float_cols = [
        f_.name for f_ in fields_
        if isinstance(f_.dataType, (T.DoubleType, T.FloatType))
    ] if "precision" in want else []
    if float_cols:
        pairs = F.array(*[
            F.struct(
                F.lit(n).alias("col"),
                F.when(
                    F.col(n).isNotNull()
                    & ~F.isnan(F.col(n).cast("double")),
                    exprs.decimal_scale(F.col(n).cast("double")),
                ).alias("scale"),
            )
            for n in float_cols
        ])
        scale_counts = (
            df.select(F.explode(pairs).alias("p"))
            .filter(F.col("p.scale").isNotNull())
            .groupBy(F.col("p.col").alias("col"),
                     F.col("p.scale").alias("scale"))
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
        per_col: dict[str, list[int]] = {}
        for r in scale_counts:
            per_col.setdefault(r["col"], []).append(r["n"])
        checked = sum(sum(v) for v in per_col.values())
        inconsistent = sum(sum(v) - max(v) for v in per_col.values())
        if checked > 0:
            report.dimensions["precision"] = (
                checked - inconsistent
            ) / checked
            report.details["precision"] = {
                "numeric_values_checked": checked,
                "inconsistent_precision_values": inconsistent,
            }

    # ---- validity: dominant-semantic-pattern share (validity.rs:20-71).
    # Opt-in: pattern detection needs a per-column sample collect; the
    # full-column match share is then ONE combined aggregation.
    if with_validity and "validity" in want and str_cols:
        from dataprof_spark.operators import patterns as _patterns

        doms = {}
        for n in str_cols:
            dom = _patterns.dominant_pattern(df, n)
            if dom is not None:
                doms[n] = dom
        if doms:
            vaggs = []
            for n, dom in doms.items():
                nn = ~exprs.nulllike(F.col(n))
                vaggs.append(F.sum(nn.cast("long")).alias(f"{n}__v_nn"))
                vaggs.append(
                    F.sum(
                        (nn & F.col(n).cast("string").rlike(dom["regex"]))
                        .cast("long")
                    ).alias(f"{n}__v_match")
                )
            vrow = df.agg(*vaggs).collect()[0].asDict()
            v_checked = sum(vrow[f"{n}__v_nn"] for n in doms)
            v_valid = sum(
                min(vrow[f"{n}__v_match"], vrow[f"{n}__v_nn"])
                for n in doms
            )
            if v_checked > 0:
                report.dimensions["validity"] = v_valid / v_checked
                report.details["validity"] = {
                    "values_checked": v_checked,
                    "invalid_values": v_checked - v_valid,
                    "patterns": {n: d["name"] for n, d in doms.items()},
                }

    if "uniqueness" in want:
        report.distinct_confidence = distinct_conf
    if use_approx_percentiles or use_approx_distinct:
        report.confidence = "approx"

    # ---- timeliness
    if "timeliness" in want and ts_cols:
        fut = sum(row[f"{n}__future"] for n in ts_cols)
        stale = sum(row[f"{n}__stale"] for n in ts_cols)
        nn = sum(row[f"{n}__ts_n"] for n in ts_cols)
        if nn:
            report.dimensions["timeliness"] = max(
                0.0, 1.0 - (fut + 0.5 * stale) / nn
            )
            report.details["timeliness"] = {
                "future_dates": fut,
                "stale_values": stale,
            }
    return report
