"""ProfileReport sink (reference S12): versioned JSON save/load.

The load side keeps the reference's schema_version gate: a report
written by a newer version is refused, not misread
(profile_report.rs:160-171).
"""

from __future__ import annotations

import dataclasses
import json
from dataclasses import dataclass, field

REPORT_SCHEMA_VERSION = 1


@dataclass
class ProfileReport:
    source: str
    columns: list[dict] = field(default_factory=list)
    quality: dict | None = None
    execution: dict = field(default_factory=dict)
    patterns_scanned: bool = False
    schema_version: int = REPORT_SCHEMA_VERSION

    @classmethod
    def from_profiles(cls, source, profiles, quality_report=None,
                      execution=None, patterns_scanned=False):
        cols = []
        for p in profiles:
            d = dataclasses.asdict(p)
            cols.append(d)
        q = None
        if quality_report is not None:
            q = {
                "dimensions": quality_report.dimensions,
                "overall_score": quality_report.overall_score,
                "details": quality_report.details,
                "confidence": quality_report.confidence,
            }
        return cls(
            source=source,
            columns=cols,
            quality=q,
            execution=execution or {},
            patterns_scanned=patterns_scanned,
        )

    def save(self, path: str) -> None:
        """Write the report as versioned JSON."""
        with open(path, "w") as f:
            json.dump(dataclasses.asdict(self), f, default=str, indent=1)

    @classmethod
    def load(cls, path: str) -> "ProfileReport":
        with open(path) as f:
            raw = json.load(f)
        version = raw.get("schema_version", 0)
        if version > REPORT_SCHEMA_VERSION:
            raise ValueError(
                f"report schema_version {version} is newer than supported "
                f"{REPORT_SCHEMA_VERSION}; refusing to misread it"
            )
        return cls(**raw)
