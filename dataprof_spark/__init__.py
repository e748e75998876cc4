"""dataprof_spark — a PySpark-native web-text quality engine.

A from-scratch re-expression of the capabilities of AndreaBozzo/dataprof
(reference surveyed in SURVEY.md) as an idiomatic PySpark
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


def profile(source, **opts):
    """Top-level facade — see dataprof_spark.facade.profile (the
    reference's `dp.profile(source, **opts)` entry point). Imported
    lazily so `import dataprof_spark` stays free of Spark imports."""
    from dataprof_spark.facade import profile as _profile

    return _profile(source, **opts)
