"""Sampling strategies — the reference's first-class family
(/root/reference/crates/dataprof-core/src/sampling/strategies.rs:15-84)
recast to Spark, deterministic by construction (seeded everything,
reservoir.rs:41 discipline).

Determinism note: `df.sample(seed=)` is NOT stable across partition
layouts, so strategies that must be reproducible for oracle checks use
content-derived hashing (md5 of the id) instead of Spark's RNG — the
same rows are selected no matter how the input is partitioned or how
many executors run.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from dataprof_spark import config


def systematic(df: DataFrame, interval: int, id_col: str) -> DataFrame:
    """Every k-th row by id (strategies.rs Systematic)."""
    return df.filter(F.pmod(F.col(id_col), F.lit(interval)) == 0)


def hash_sample(df: DataFrame, fraction: float, id_col: str,
                seed: int = config.SEED) -> DataFrame:
    """Deterministic ~fraction sample: md5(seed || id) bucket test.
    Partition-layout-independent, reproducible in ANSI SQL."""
    bucket = F.conv(
        F.substring(F.md5(F.concat(F.lit(str(seed)), F.col(id_col).cast("string"))), 1, 8),
        16, 10,
    ).cast("long")
    return df.filter(bucket < int(fraction * 0xFFFFFFFF))


def exact_n_sample(df: DataFrame, n: int, id_col: str,
                   seed: int = config.SEED) -> DataFrame:
    """Exact-size uniform sample (reservoir semantics): order by the
    content hash, take n. One shuffle of (hash, row) with a global
    limit — the Spark-native equivalent of Algorithm R."""
    h = F.md5(F.concat(F.lit(str(seed)), F.col(id_col).cast("string")))
    return df.orderBy(h).limit(n)


def stratified_first_k(df: DataFrame, key_cols: list[str], k: int,
                       order_col: str) -> DataFrame:
    """First-k rows per stratum (strategies.rs Stratified semantics:
    samples_per_stratum with discovery order; here deterministic by
    order_col)."""
    w = W.partitionBy(*key_cols).orderBy(order_col)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def importance(df: DataFrame, weight_col: str, threshold: float) -> DataFrame:
    """Importance filter (strategies.rs:73-76 — a filter, not a
    probability sample)."""
    return df.filter(F.col(weight_col) >= threshold)


# ------------------------------------------------------------ multi-stage
class InvalidSamplingCombination(ValueError):
    """A multi-stage combination with no coherent meaning (reference
    sampler.rs:232-266 refusal contract)."""


_FIXED_SIZE_KINDS = frozenset({"random", "reservoir"})
_STREAMING_KINDS = frozenset(
    {"systematic", "importance", "hash_fraction", "stratified"}
)


def multi_stage(
    df: DataFrame,
    stages: list[tuple[str, dict]],
    id_col: str,
    seed: int = config.SEED,
) -> DataFrame:
    """Several strategies applied in order (strategies.rs MultiStage).

    Streaming stages (systematic / importance / hash_fraction /
    stratified) act as filters a row must pass in sequence. At most
    ONE fixed-size stage (random/reservoir — both exact-n here) may
    appear, and it must be LAST: two fixed-size stages have no
    combined meaning, and a filter after the fixed-size stage would
    have nothing to act on (sampler.rs:242-266). Invalid combinations
    raise InvalidSamplingCombination instead of guessing.
    """
    fixed_seen = False
    n_fixed = sum(1 for kind, _ in stages if kind in _FIXED_SIZE_KINDS)
    if n_fixed > 1:
        raise InvalidSamplingCombination(
            "a multi-stage strategy may contain at most one fixed-size "
            "stage (random or reservoir); keep a single fixed-size stage "
            "and express the rest as streaming filters"
        )
    for kind, _ in stages:
        if fixed_seen and kind not in _FIXED_SIZE_KINDS:
            raise InvalidSamplingCombination(
                "a fixed-size stage (random or reservoir) must be the "
                "last stage — a filter after it would have nothing to "
                "act on"
            )
        if kind in _FIXED_SIZE_KINDS:
            fixed_seen = True
        elif kind not in _STREAMING_KINDS:
            raise InvalidSamplingCombination(f"unknown stage kind {kind!r}")

    out = df
    for kind, params in stages:
        if kind == "systematic":
            out = systematic(out, params["interval"], id_col)
        elif kind == "importance":
            out = importance(
                out, params["weight_column"], params["weight_threshold"]
            )
        elif kind == "hash_fraction":
            out = hash_sample(out, params["fraction"], id_col, seed)
        elif kind == "stratified":
            out = stratified_first_k(
                out, params["key_columns"], params["samples_per_stratum"],
                order_col=id_col,
            )
        else:  # random / reservoir — exact-n, always last
            out = exact_n_sample(out, params["size"], id_col, seed)
    return out
