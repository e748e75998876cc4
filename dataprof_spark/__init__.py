"""dataprof_spark — a PySpark-native web-text quality engine.

A from-scratch re-expression of the capabilities of AndreaBozzo/dataprof
(reference surveyed in /root/repo/SURVEY.md) as an idiomatic PySpark
pipeline: document-level language-ID, quality-filter gates, and a
PII/toxicity scrubber over Common-Crawl-style page tables, plus the
reference's tabular profiling / quality-metrics machinery recast as
native Spark SQL aggregations.

Design stance (SURVEY.md §7.0):
- native Spark SQL expressions for every countable signal;
- vectorized pandas/Arrow UDFs only where Spark SQL cannot express the
  semantics (byte-exact Python-`re` scrub, n-gram langid, perplexity);
- deterministic everywhere (fixed seeds, pure per-document functions);
- partition/shuffle/skew handled explicitly for 100 TB scale.
"""

__version__ = "0.1.0"


def capabilities():
    """Side-effect-free snapshot of features available in this
    installation — the reference's `dataprof.capabilities()`
    (python/dataprof/__init__.py:133-170) recast for the Spark
    deployment: optional Python packages are discovered without
    importing them; the Iceberg runtime is discovered by scanning the
    Spark distribution's jars directory (the classpath the session
    loads)."""
    import importlib.util as _ilu
    import os as _os
    from dataclasses import dataclass as _dc

    def _installed(mod: str) -> bool:
        try:
            return _ilu.find_spec(mod) is not None
        except (AttributeError, ImportError, ValueError):
            return False

    iceberg = False
    try:
        import pyspark as _ps

        jars = _os.path.join(_os.path.dirname(_ps.__file__), "jars")
        iceberg = any(
            "iceberg-spark-runtime" in n for n in _os.listdir(jars)
        )
    except Exception:
        pass

    @_dc(frozen=True, slots=True)
    class Capabilities:
        version: str
        local_csv: bool
        local_json: bool
        local_jsonl: bool
        local_parquet: bool
        pandas_interop: bool
        pandas_installed: bool
        polars_interop: bool
        polars_installed: bool
        arrow_interop: bool
        pyarrow_installed: bool
        structured_streaming: bool
        iceberg_runtime: bool
        langid_backend: str
        perplexity_backend: str
        fasttext_installed: bool
        kenlm_installed: bool

    from dataprof_spark.core import models as _models
    return Capabilities(
        version=__version__,
        local_csv=True,
        local_json=True,
        local_jsonl=True,
        local_parquet=True,
        pandas_interop=True,
        pandas_installed=_installed("pandas"),
        polars_interop=True,
        polars_installed=_installed("polars"),
        arrow_interop=True,
        pyarrow_installed=_installed("pyarrow"),
        structured_streaming=True,
        iceberg_runtime=iceberg,
        # production-model swap point: delegated to core/models.py so
        # the "what a run would actually use" logic lives once — a
        # configured-but-unloadable model reports 'misconfigured'
        # (such a run raises; naming the backend would be a lie)
        langid_backend=_models.langid_status(),
        perplexity_backend=_models.perplexity_status(),
        fasttext_installed=_installed("fasttext"),
        kenlm_installed=_installed("kenlm"),
    )


def profile(source, **opts):
    """Top-level facade — see dataprof_spark.facade.profile (the
    reference's `dp.profile(source, **opts)` entry point). Imported
    lazily so `import dataprof_spark` stays free of Spark imports."""
    from dataprof_spark.facade import profile as _profile

    return _profile(source, **opts)


def analyze_structure(path, max_rows=None):
    """Bounded-scan structure report (reference analyze_structure) —
    no Spark session needed."""
    from dataprof_spark.facade import analyze_structure as _f

    return _f(path, max_rows=max_rows)


def list_patterns(locale=None):
    """Built-in pattern-detector inventory (reference list_patterns)."""
    from dataprof_spark.facade import list_patterns as _f

    return _f(locale=locale)
