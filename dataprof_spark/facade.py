"""Top-level ``profile(source)`` facade — the reference's main entry
point (python/dataprof/__init__.py:987-1260 `dp.profile`, Rust facade
profiler.rs:316-357) recast over Spark.

Source-type dispatch, mirroring the reference's:
- path string → format by extension (override with ``format=``):
  .csv/.tsv → robust CSV (delimiter + encoding autodetect),
  .json/.jsonl/.ndjson → JSONL reader (Skip policy),
  .parquet → native parquet scan.
  Missing files fail fast (NotFound check, profiler.rs:328-333);
  unsupported extensions are REJECTED, not ignored (:516-552).
- pandas DataFrame → Arrow-accelerated createDataFrame
- pyarrow Table → via pandas
- list of dicts / dict of lists → createDataFrame
- Spark DataFrame → used as-is

Output: a ProfileReport (sources/report.py) with per-column profiles,
optional quality assessment, and execution metadata (rows, columns,
scan seconds, engine, truncation provenance when ``max_rows`` hit).
"""

from __future__ import annotations

import os
import time
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from dataprof_spark.operators import profiler as _profiler
from dataprof_spark.operators import quality as _quality
from dataprof_spark.sources import readers as _readers
from dataprof_spark.sources.report import ProfileReport

_CSV_EXTS = (".csv", ".tsv")
_JSON_EXTS = (".json", ".jsonl", ".ndjson")
_PARQUET_EXTS = (".parquet", ".pq")


def _default_spark() -> SparkSession:
    from dataprof_spark.session import get_spark

    return get_spark()


def _load_path(
    spark: SparkSession, path: str, fmt: str | None, max_rows: int | None,
    csv_delimiter: str | None = None, csv_flexible: bool | None = None,
) -> tuple[DataFrame, dict]:
    if not os.path.exists(path):
        raise FileNotFoundError(f"source not found: {path}")
    ext = os.path.splitext(path)[1].lower()
    fmt = fmt or (
        "csv" if ext in _CSV_EXTS
        else "json" if ext in _JSON_EXTS
        else "parquet" if ext in _PARQUET_EXTS
        else None
    )
    if fmt == "csv":
        res = _readers.read_csv_robust(
            spark, path, encoding=None, max_rows=max_rows,
            delimiter=csv_delimiter,
            # flexible=False → Strict/FAILFAST (reference csv_flexible)
            strict=(csv_flexible is False),
        )
        return res.df, {"format": "csv", **res.options}
    if fmt == "json":
        res = _readers.read_jsonl(spark, path, max_rows=max_rows)
        return res.df, {"format": "json", **res.options}
    if fmt == "parquet":
        df = spark.read.parquet(path)
        if max_rows:
            df = df.limit(max_rows)
        return df, {"format": "parquet"}
    raise ValueError(
        f"unsupported source extension {ext!r} for {path!r}; pass "
        "format='csv'|'json'|'parquet' to override (the reference "
        "rejects rather than guesses, profiler.rs:516-552)"
    )


def _to_df(spark: SparkSession, source: Any) -> DataFrame:
    if isinstance(source, DataFrame):
        return source
    try:
        import pandas as pd

        if isinstance(source, pd.DataFrame):
            return spark.createDataFrame(source)
    except ImportError:
        pass
    try:
        import pyarrow as pa

        if isinstance(source, pa.Table):
            return spark.createDataFrame(source.to_pandas())
    except ImportError:
        pass
    if isinstance(source, list) and source and isinstance(source[0], dict):
        return spark.createDataFrame(source)
    if isinstance(source, dict):
        import pandas as pd

        return spark.createDataFrame(pd.DataFrame(source))
    raise TypeError(
        f"unsupported source type {type(source).__name__}: expected "
        "path str, Spark/pandas DataFrame, pyarrow Table, list of "
        "dicts, or dict of lists"
    )


_VALID_METRIC_PACKS = {"schema", "statistics", "patterns", "quality"}


def profile(
    source: Any,
    *,
    spark: SparkSession | None = None,
    format: str | None = None,  # noqa: A002 — reference kwarg name
    max_rows: int | None = None,
    quality: bool = True,
    key_col: str | None = None,
    use_approx_percentiles: bool = False,
    cardinality: str = "parity",
    patterns: bool = False,
    metrics: list[str] | None = None,
    quality_dimensions: list[str] | None = None,
    locale: str | None = None,
    name: str | None = None,
    sampling: Any = None,
    positive_columns: list[str] | None = None,
    csv_delimiter: str | None = None,
    csv_flexible: bool | None = None,
) -> ProfileReport:
    """Profile any supported source into a ProfileReport.

    ``quality=True`` adds the A19-A25 quality assessment;
    ``patterns=True`` additionally runs the PII/pattern detector
    sample pass (§2.8) and marks the report patterns_scanned.

    ``cardinality`` selects the distinct-count tier: "parity"
    (default — exact ≤10k, else the reference's precision-14 HLL
    sketch) or "off" (no cardinality aggregates;
    distinct_count=None). See operators.profiler.profile.

    ``metrics`` selects metric packs (reference quality.rs:63-72 /
    python/dataprof/__init__.py:1380-1396):
    "schema" (always included), "statistics", "patterns", "quality".
    An omitted pack contributes ZERO Spark aggregate expressions —
    e.g. metrics=["schema"] is one light agg job. ``metrics``
    overrides the ``quality``/``patterns`` booleans when given.
    ``quality_dimensions`` further narrows the quality pack to the
    named ISO 25012 dimensions.
    ``sampling`` is either a callable ``df -> df`` or a dict
    ``{"stages": [...], "id_col": ...}`` routed through
    operators.sampling.multi_stage — applied BEFORE profiling."""
    _profiler.check_cardinality(cardinality)
    spark = spark or _default_spark()
    if metrics is not None:
        packs = {p.lower() for p in metrics}
        unknown = packs - _VALID_METRIC_PACKS
        if unknown:
            raise ValueError(
                f"Unknown metric packs: {sorted(unknown)}. "
                f"Valid packs: {sorted(_VALID_METRIC_PACKS)}"
            )
        packs.add("schema")  # always included (quality.rs:64)
        quality = "quality" in packs
        patterns = "patterns" in packs
    else:
        packs = {"schema", "statistics"} | (
            {"quality"} if quality else set()
        ) | ({"patterns"} if patterns else set())
    if quality_dimensions is not None and not quality:
        # fail loudly: narrowing a pass that will not run is a
        # request the caller thinks they made but did not
        raise ValueError(
            "quality_dimensions given but the quality pack is off "
            "(metrics without 'quality', or quality=False) — add "
            "'quality' to metrics or drop quality_dimensions"
        )
    meta: dict[str, Any] = {}
    if isinstance(source, str):
        df, meta = _load_path(
            spark, source, format, None,
            csv_delimiter=csv_delimiter, csv_flexible=csv_flexible,
        )
        name = name or os.path.basename(source)
    else:
        df = _to_df(spark, source)
        name = name or type(source).__name__
    if sampling is not None:
        if callable(sampling):
            df = sampling(df)
        elif isinstance(sampling, dict):
            from dataprof_spark.operators import sampling as _sampling

            df = _sampling.multi_stage(
                df, sampling["stages"], sampling["id_col"],
                seed=sampling.get("seed", 42),
            )
        else:
            raise TypeError(
                "sampling must be a callable df->df or a dict "
                "{'stages': [...], 'id_col': ...}"
            )
    # Centralized cap: limit(max_rows+1) + cache (apply_row_cap) so
    # (a) truncation provenance is exact — a source with exactly
    # max_rows rows is NOT reported truncated — and (b) the profiler,
    # quality, and pattern passes all see the SAME pinned row subset
    # (LocalLimit row selection is not stable across Spark jobs).
    cap = _readers.apply_row_cap(df, max_rows) if max_rows else None
    if cap:
        df = cap.df
    t0 = time.perf_counter()
    try:
        if "statistics" in packs:
            profiles = _profiler.profile(
                df, use_approx_percentiles=use_approx_percentiles,
                cardinality=cardinality,
            )
        else:
            # schema pack only: names/types/null counts, one agg job
            profiles = _profiler.profile_schema_only(df)
        qrep = None
        if quality:
            qrep = _quality.assess(
                df, key_col=key_col,
                use_approx_percentiles=use_approx_percentiles,
                dimensions=quality_dimensions,
                positive_columns=positive_columns,
                cardinality=cardinality,
            )
        patterns_scanned = False
        if patterns:
            from pyspark.sql import types as T

            from dataprof_spark.operators import patterns as _patterns

            meta["pattern_matches"] = {
                f.name: _patterns.detect_column_patterns(
                    df, f.name, locale=locale
                )
                for f in df.schema.fields
                if isinstance(f.dataType, T.StringType)
            }
            patterns_scanned = True
    finally:
        if cap:
            cap.release()
    total = profiles[0].total_count if profiles else 0
    execution = {
        "engine": "spark",
        "metric_packs": sorted(packs),
        "rows_processed": total,
        "columns_detected": len(profiles),
        "scan_time_sec": round(time.perf_counter() - t0, 3),
        "truncated": bool(cap and cap.truncated),
        "truncation_reason": (
            f"max_rows({max_rows})" if cap and cap.truncated else None
        ),
        **meta,
    }
    return ProfileReport.from_profiles(
        name, profiles, quality_report=qrep, execution=execution,
        patterns_scanned=patterns_scanned,
    )
