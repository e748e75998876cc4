"""Multi-format datetime parsing + date-shape classification, native.

Recasts the reference's flexible chrono parse chain with EU-first
ambiguity resolution (/root/reference/crates/dataprof-metrics/src/
stats/datetime.rs:73-134: RFC3339 → datetime formats → date-only
formats, European DD/MM tried before US MM/DD) and the consistency
dimension's date-shape regexes (analysis/metrics/utils.rs:12-56) as
pure `pyspark.sql.functions` expressions — `coalesce(try_to_timestamp
...)` stays in whole-stage codegen and needs no Python at 100 TB.

The same format list drives the DuckDB oracle via `try_strptime(s,
[formats])`, so ambiguity resolution is oracle-checked end-to-end:
'07/04/2024' MUST resolve to April 7 (EU) in both engines.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# (spark_pattern, duckdb_strptime) — ORDER IS SEMANTICS: first match
# wins; European day-first formats precede the US fallback, mirroring
# datetime.rs:116-124.
DATETIME_FORMATS: tuple[tuple[str, str], ...] = (
    ("yyyy-MM-dd'T'HH:mm:ssXXX", "%Y-%m-%dT%H:%M:%S%z"),   # RFC3339
    ("yyyy-MM-dd'T'HH:mm:ss", "%Y-%m-%dT%H:%M:%S"),
    ("yyyy-MM-dd HH:mm:ss", "%Y-%m-%d %H:%M:%S"),
    ("dd/MM/yyyy HH:mm:ss", "%d/%m/%Y %H:%M:%S"),
)
DATE_FORMATS: tuple[tuple[str, str], ...] = (
    ("yyyy-MM-dd", "%Y-%m-%d"),    # ISO (unambiguous)
    ("dd/MM/yyyy", "%d/%m/%Y"),    # European day-first
    ("dd-MM-yyyy", "%d-%m-%Y"),
    ("dd.MM.yyyy", "%d.%m.%Y"),
    ("yyyy/MM/dd", "%Y/%m/%d"),
    ("MM/dd/yyyy", "%m/%d/%Y"),    # US — fallback only
)

# Shape regexes for the consistency dimension (utils.rs:12-30):
# a value "looks like a date" if it matches any of these.
DATE_SHAPE_PATS: tuple[str, ...] = (
    r"^\d{4}-\d{2}-\d{2}$",
    r"^\d{2}/\d{2}/\d{4}$",
    r"^\d{2}-\d{2}-\d{4}$",
    r"^\d{4}/\d{2}/\d{2}$",
    r"^\d{1,2}/\d{1,2}/\d{4}$",
    r"^\d{4}-\d{1,2}-\d{1,2}$",
    r"^\d{1,2}-\d{1,2}-\d{4}$",
)

# Named format classes for mixed-format detection (utils.rs:31-56);
# first matching class wins, same as the reference's `break`.
DATE_FORMAT_CLASSES: tuple[tuple[str, str], ...] = (
    ("YYYY-MM-DD", r"^\d{4}-\d{2}-\d{2}$"),
    ("DD/MM/YYYY", r"^\d{2}/\d{2}/\d{4}$"),
    ("DD-MM-YYYY", r"^\d{2}-\d{2}-\d{4}$"),
    ("YYYY/MM/DD", r"^\d{4}/\d{2}/\d{2}$"),
)

# name-based hint that a column holds dates (utils.rs:107-120)
DATE_NAME_HINTS = (
    "date", "time", "created", "updated", "timestamp", "birth", "expiry",
)


def is_likely_date_column(name: str) -> bool:
    low = name.lower()
    return any(h in low for h in DATE_NAME_HINTS)


def parse_datetime_flexible(c: Column) -> Column:
    """First-match timestamp across the full chain (NULL = unparseable).

    try_to_timestamp returns NULL instead of raising on mismatch, so
    coalesce implements the reference's sequential fallback exactly.
    """
    c = F.trim(c)
    attempts = [
        F.try_to_timestamp(c, F.lit(p)) for p, _ in DATETIME_FORMATS
    ] + [F.try_to_timestamp(c, F.lit(p)) for p, _ in DATE_FORMATS]
    return F.coalesce(*attempts)


def parse_date_flexible(c: Column) -> Column:
    return parse_datetime_flexible(c).cast("date")


def duckdb_parse_expr(col_sql: str) -> str:
    """The DuckDB twin: try_strptime with the SAME ordered format list."""
    fmts = ", ".join(
        f"'{d}'" for _, d in DATETIME_FORMATS + DATE_FORMATS
    )
    return f"try_strptime(trim({col_sql}), [{fmts}])"


def is_valid_date_shape(c: Column) -> Column:
    """Any of the 7 validation shapes match (utils.rs:100-105)."""
    out = F.lit(False)
    for pat in DATE_SHAPE_PATS:
        out = out | c.rlike(pat)
    return out


def date_format_class(c: Column) -> Column:
    """First matching named format class, NULL when none match."""
    expr = F.lit(None).cast("string")
    for name, pat in reversed(DATE_FORMAT_CLASSES):
        expr = F.when(c.rlike(pat), F.lit(name)).otherwise(expr)
    return expr
