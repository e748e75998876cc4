"""Composable stop conditions (reference parity:
crates/dataprof-core/src/stop_condition.rs:14-117).

The reference stops a streaming single-node profile mid-file. A
Spark scan has no chunk loop to stop, so ``facade.Profiler.stop_when``
applies a condition through its row bound (``max_rows()``) and records
it otherwise. The condition algebra and its two subtle contracts are
ported exactly:

- ``max_rows()``: the row count at which the condition can first fire
  on rows alone — ``Any`` takes the MIN of row-triggerable children,
  ``All`` the MAX and is None if any child is not row-triggerable
  (and an empty ``All`` never fires).
- ``is_row_limit_only()``: whether a parser that can only cap rows
  may enforce this condition without a real evaluator.

SchemaStable counts the rows since the caller last reported a schema
change (``StopEvaluator.update(schema_changed=True)``); MemoryPressure
is evaluated from a caller-fed fraction (Spark executors manage
their own memory — the knob exists for API parity and is fed from the
driver's view when used).
"""

from __future__ import annotations

from dataclasses import dataclass, field


class StopCondition:
    """Base — see subclasses. evaluate() returns a truncation-reason
    string when the condition fires, else None."""

    def evaluate(self, state: "StopState") -> str | None:
        raise NotImplementedError

    def max_rows(self) -> int | None:
        return None

    def is_row_limit_only(self) -> bool:
        return False


@dataclass
class StopState:
    rows: int = 0
    bytes: int = 0
    memory_fraction: float = 0.0
    estimated_total_rows: int | None = None
    consecutive_stable_rows: int = 0


@dataclass
class Never(StopCondition):
    def evaluate(self, state: StopState) -> str | None:
        return None

    def is_row_limit_only(self) -> bool:
        return True  # vacuously: it never needs an evaluator


@dataclass
class MaxRows(StopCondition):
    limit: int

    def evaluate(self, state: StopState) -> str | None:
        return f"max_rows({self.limit})" if state.rows >= self.limit else None

    def max_rows(self) -> int | None:
        return self.limit

    def is_row_limit_only(self) -> bool:
        return True


@dataclass
class MaxBytes(StopCondition):
    limit: int

    def evaluate(self, state: StopState) -> str | None:
        return (
            f"max_bytes({self.limit})" if state.bytes >= self.limit else None
        )


@dataclass
class SchemaStable(StopCondition):
    consecutive_stable_rows: int = 1000

    def evaluate(self, state: StopState) -> str | None:
        if state.consecutive_stable_rows >= self.consecutive_stable_rows:
            return f"schema_stable({self.consecutive_stable_rows})"
        return None


@dataclass
class ConfidenceThreshold(StopCondition):
    """Fires when rows/estimated_total >= threshold. Inert without an
    estimate (stop_condition.rs:27-31). Threshold clamped to [0, 1]."""

    threshold: float

    def __post_init__(self):
        self.threshold = min(1.0, max(0.0, self.threshold))

    def evaluate(self, state: StopState) -> str | None:
        if not state.estimated_total_rows:
            return None
        if state.rows / state.estimated_total_rows >= self.threshold:
            return f"confidence({self.threshold})"
        return None


@dataclass
class MemoryPressure(StopCondition):
    threshold: float

    def __post_init__(self):
        self.threshold = min(1.0, max(0.0, self.threshold))

    def evaluate(self, state: StopState) -> str | None:
        if state.memory_fraction >= self.threshold:
            return f"memory_pressure({self.threshold})"
        return None


@dataclass
class AnyOf(StopCondition):
    conditions: list[StopCondition] = field(default_factory=list)

    def evaluate(self, state: StopState) -> str | None:
        for c in self.conditions:
            r = c.evaluate(state)
            if r is not None:
                return r
        return None

    def max_rows(self) -> int | None:
        caps = [c.max_rows() for c in self.conditions]
        caps = [c for c in caps if c is not None]
        return min(caps) if caps else None

    def is_row_limit_only(self) -> bool:
        return all(c.is_row_limit_only() for c in self.conditions)


@dataclass
class AllOf(StopCondition):
    conditions: list[StopCondition] = field(default_factory=list)

    def evaluate(self, state: StopState) -> str | None:
        if not self.conditions:
            return None  # empty All never fires (reference contract)
        reasons = [c.evaluate(state) for c in self.conditions]
        if all(r is not None for r in reasons):
            return "all(" + ", ".join(reasons) + ")"
        return None

    def max_rows(self) -> int | None:
        if not self.conditions:
            return None
        best = 0
        for c in self.conditions:
            cap = c.max_rows()
            if cap is None:
                return None  # a child rows alone can't fire → no bound
            best = max(best, cap)
        return best

    def is_row_limit_only(self) -> bool:
        return all(c.is_row_limit_only() for c in self.conditions)


# ----------------------------------------------------------- presets
def schema_inference() -> StopCondition:
    """stop_condition.rs:46-55: 10k rows OR schema stable for 1k."""
    return AnyOf([MaxRows(10_000), SchemaStable(1_000)])


def quality_sample() -> StopCondition:
    """stop_condition.rs:57-64: 50k rows, 50 MB, or 95% confidence."""
    return AnyOf([
        MaxRows(50_000),
        MaxBytes(50 * 1024 * 1024),
        ConfidenceThreshold(0.95),
    ])


# ---------------------------------------------------------- evaluator
class StopEvaluator:
    """Mutable runtime checker (stop_condition.rs:130-216): feed it
    per-chunk counters; once triggered it stays triggered."""

    def __init__(self, condition: StopCondition,
                 estimated_total_rows: int | None = None):
        self.condition = condition
        self.state = StopState(estimated_total_rows=estimated_total_rows)
        self.triggered_reason: str | None = None

    def update(self, chunk_rows: int, chunk_bytes: int = 0,
               memory_fraction: float = 0.0,
               schema_changed: bool = False) -> bool:
        self.state.rows += chunk_rows
        self.state.bytes += chunk_bytes
        self.state.memory_fraction = memory_fraction
        if schema_changed:
            self.state.consecutive_stable_rows = 0
        else:
            self.state.consecutive_stable_rows += chunk_rows
        if self.triggered_reason is not None:
            return True
        self.triggered_reason = self.condition.evaluate(self.state)
        return self.triggered_reason is not None

    @property
    def should_stop(self) -> bool:
        return self.triggered_reason is not None

